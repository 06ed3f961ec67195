package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives for the similarity-search extensions.
  * Arrays of float are widened to double BEFORE any arithmetic so both
  * engines compute identical IEEE products; cross-engine sum-order
  * differences are absorbed by rounding at the query layer (round 6).
  *
  * All of these are per-row array expressions — the brute-force top-k
  * is a map-side score + a single top-k (TakeOrderedAndProject), the
  * honest 100 TB baseline; the IVF variant prunes the scan to one
  * centroid cell before scoring.
  */
object VectorOps {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential left-to-right dot product, via the native codegen'd
    * expression (graft.functions.DotProduct) — bit-identical to the
    * higher-order fold it replaces, but stays in whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  /** The higher-order-function formulation (kept as the reference
    * semantics / cross-check for DotProduct — see VectorOpsSpec).
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = dot(a, a)

  /** Micro-int quantization: each component becomes `round(x * 1e6)`
    * carried in a float (exact: |micro| < 2^24 for |x| <~ 16) — the
    * fixed-point domain of the kmeans clustering family, shared by the
    * batch corpus frame and the streaming admission gate so both sides
    * score the SAME integers against the trained centroid bank.
    */
  def microQuantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1e6).cast("long").cast("float"))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(norm2(a) * norm2(b))

  /** Per-dimension uniform scalar quantization to the 0..255 codebook
    * (the int8-SQ memory-scale path: a quantized corpus is 4x smaller
    * than float32, and scoring is integer multiply-adds). `mns`/`mxs`
    * are array columns carrying the learned per-dim min/max (one tiny
    * broadcast row — see sim_sq8_topk). Arithmetic is pinned to a
    * replayable double expression, `floor((x - mn) * 255 / (mx - mn)
    * + 0.5)` with a 0 fallback for constant dims, CLAMPED to [0, 255]
    * — the normal deployment case quantizes UNSEEN vectors against a
    * trained codebook, and a value outside the learned range would
    * otherwise yield a negative or >255 code, silently breaking the
    * int8 storage premise (reference SQ implementations clamp for the
    * same reason). The DuckDB oracle replays the same clamp; all
    * downstream scoring is exact integer algebra from here.
    */
  def quantizeSq8(v: Column, mns: Column, mxs: Column): Column =
    zip_with(toDouble(v), zip_with(mns, mxs, (a, b) => struct(a.as("mn"), b.as("mx"))),
      (x, m) => when(m.getField("mx") === m.getField("mn"), lit(0L))
        .otherwise(greatest(lit(0L), least(lit(255L),
          floor((x - m.getField("mn")) * lit(255) /
            (m.getField("mx") - m.getField("mn")) + lit(0.5))))))

  /** Affine reconstruction of quantized codes back to approximate
    * values: `mn + q * (mx - mn) / 255` per dimension. Scoring MUST
    * run on reconstructions, not raw codes: codes are shifted by
    * `-mn*255/(mx-mn)`, so a symmetric dot of raw codes ranks an
    * affine-distorted functional whose `mn` cross-terms swamp the true
    * inner product on near-orthogonal data (measured on the test
    * embeddings: raw-code top-10 overlaps the exact top-10 in 0-1 of
    * 10; reconstruction overlaps 10 of 10 — see the sq8 invariant in
    * ExtensionInvariantsSpec). The expression is pinned so the DuckDB
    * oracle replays it; a rounding layer at the query edge absorbs
    * summation-order ulps, the same contract as the cosine queries.
    */
  def reconstructSq8(q: Column, mns: Column, mxs: Column): Column =
    zip_with(q, zip_with(mns, mxs, (a, b) => struct(a.as("mn"), b.as("mx"))),
      (x, m) => m.getField("mn") +
        x * (m.getField("mx") - m.getField("mn")) / lit(255))

  /** The full quantize-then-reconstruct round trip of a RAW vector as
    * ONE native codegen'd pass (graft.functions.Sq8Reconstruct) —
    * bit-identical to `reconstructSq8(quantizeSq8(v))` (VectorOpsSpec
    * cross-checks on real embeddings) but free of the four interpreted
    * zip_with closures, so the sim_sq8_topk scoring projection stays
    * inside whole-stage codegen.
    */
  def sq8Approx(v: Column, mns: Column, mxs: Column): Column =
    graft.functions.VectorExpressions.sq8_reconstruct(v, mns, mxs)

  /** Integer dot product over two quantized code arrays — BIGINT-exact
    * (64-dim * 255^2 tops out far below Long range AND below 2^53, so
    * the native double accumulator is integer-exact and the final cast
    * recovers the BIGINT bit-for-bit; equality with the oracle needs
    * no rounding layer). Routed through the codegen'd DotProduct
    * (which accepts array<bigint> natively) instead of a zip_with/
    * aggregate fold, which would be CodegenFallback in the scoring
    * projection — the hot scan stage of sim_sq8_topk.
    */
  def dotSq8(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b).cast("long")
}
