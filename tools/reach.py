#!/usr/bin/env python3
"""Reach of every public `src/main` name (stdlib only, no build).

For each public def / object / class / trait declared as a member of a
top-level template in `src/main/scala`, prints where the NAME is used
outside its own file, the first that applies:

  src/main   another src/main file (or src/main/resources)
  perfbench  perfbench/src
  test-only  src/test only
  entry      a `main` object (started by `sbt runMain`)
  own-file   no use outside the declaring file, but a use inside it
  nowhere    no use anywhere beyond its own declaration

The match is name-level: word boundaries over comment- and string-free
source, so a generic name (`apply`, `url`) reads as used wherever any
file says it. Then prints the number of `main` objects and the
non-blank, non-comment `src/main` line count (the CHANGES.md recipe:
`grep -vE '^\\s*$' | grep -vE '^\\s*(//|/\\*|\\*)'`).

    python3 tools/reach.py             # every name
    python3 tools/reach.py nowhere     # one category
"""
import pathlib, re, sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOKEN = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*(?:.|\n)*?\*/')
DECL = re.compile(r'^\s*((?:(?:final|sealed|abstract|implicit|lazy|case|override|private(?:\[\w+\])?|protected)\s+)*)(def|object|class|trait)\s+([A-Za-z_]\w*)')


def code(text):
    """Source with comments and string/char literals blanked (newlines kept)."""
    return TOKEN.sub(lambda m: re.sub(r'[^\n]', ' ', m.group(0)), text)


def public_members(src):
    """(line, kind, name) of declarations whose every enclosing brace is a template body."""
    out, stack, pending = [], [], False
    for no, line in enumerate(src.split('\n'), 1):
        m = DECL.match(line)
        if m:
            mods, kind, name = m.groups()
            if all(stack) and 'private' not in mods and 'protected' not in mods \
                    and 'override' not in mods and name != 'main':
                out.append((no, kind, name))
            pending = kind != 'def'
        elif re.match(r'^\s*(val|var|implicit|lazy|private|protected)\b', line):
            pending = False
        for ch in line:
            if ch == '{':
                stack.append(pending)
                pending = False
            elif ch == '}' and stack:
                stack.pop()
    return out


def files(*parts, suffixes=('.scala',)):
    base = ROOT.joinpath(*parts)
    return sorted(p for p in base.rglob('*') if p.is_file() and p.suffix in suffixes) if base.exists() else []


def main():
    main_files = files('src', 'main', 'scala')
    texts = {p: code(p.read_text(encoding='utf-8')) for p in main_files}
    resources = ' '.join(p.read_text(encoding='utf-8', errors='replace')
                         for p in files('src', 'main', 'resources', suffixes=('', '.txt', '.json')))
    groups = [('src/main', None), ('perfbench', ' '.join(code(p.read_text(encoding='utf-8'))
                                                         for p in files('perfbench', 'src'))),
              ('test-only', ' '.join(code(p.read_text(encoding='utf-8')) for p in files('src', 'test')))]
    want = sys.argv[1] if len(sys.argv) > 1 else None
    members = {p: public_members(t) for p, t in texts.items()}
    entries = {re.findall(r'\bobject\s+(\w+)', t[:m.start()])[-1]
               for t in texts.values() for m in re.finditer(r'\bdef main\(', t)}
    counts = {}
    for path, src in texts.items():
        others = ' '.join(t for p, t in texts.items() if p != path) + ' ' + resources
        for no, kind, name in members[path]:
            word = re.compile(r'\b%s\b' % re.escape(name))
            reach = next((g for g, text in groups if word.search(others if text is None else text)),
                         None)
            if reach is None and name in entries:
                reach = 'entry'
            elif reach is None:
                own = len(word.findall(src)) - sum(n == name for _, _, n in members[path])
                reach = 'own-file' if own > 0 else 'nowhere'
            counts[reach] = counts.get(reach, 0) + 1
            if want in (None, reach):
                print(f'{reach:9}  {path.relative_to(ROOT)}:{no}  {kind} {name}')
    lines = sum(1 for p in main_files for l in p.read_text(encoding='utf-8').split('\n')
                if l.strip() and not re.match(r'^\s*(//|/\*|\*)', l))
    print('reach: ' + ', '.join(f'{k} {counts.get(k, 0)}'
                                for k in ('src/main', 'perfbench', 'test-only', 'entry', 'own-file', 'nowhere')))
    print(f'mains: {len(entries)} ({", ".join(sorted(entries))})')
    print(f'non-comment src/main lines: {lines}')


if __name__ == '__main__':
    main()
