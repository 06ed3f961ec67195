package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.ChangeSchema

/** Full-job assembly: the engine twin of the reference's entry points
  * (`scanner.py:34-59`) — named-filter registry, multi-stream source
  * union, pipeline, sink fan-out.
  */
object RcJob {

  /** The filter registry (C2, `examples/filterlist.py:15-36`): named,
    * declarative query specs. The "example" entry mirrors the
    * reference's example filter field for field.
    */
  val filterlist: Map[String, RcStreaming.FilterSpec] = Map(
    "example" -> RcStreaming.FilterSpec(
      streamfilter = Map(
        "type" -> Seq("edit", "create"),   // filterlist.py:21
        "bot" -> Seq(false),               // filterlist.py:22
        "namespace" -> Seq(2)),            // filterlist.py:23
      maxEdits = None,                     // filterlist.py:26 (disabled)
      skipRepeats = true,
      regexes = Seq("(?i)\\buserbox(e[ns])?\\b", "some other regex"), // filterlist.py:30-33
      sites = Seq("en.wikipedia.org"),     // filterlist.py:20
      streams = Seq("recentchange", "revision-create"))) // filterlist.py:24

  /** Resolve CLI-style args exactly as `_get_sys_args` does
    * (`scanner.py:34-51`): missing name and unknown name produce the
    * reference's error strings. Returns the spec, the filter name and
    * whether `-v`/`--verbose` selects the verbose pipeline (every event
    * with its skip reason, `scanner.py:132-138`) — [[run]] wires it
    * through `pipelineVerbose` + `writeVerboseBatch`.
    */
  def resolveArgs(args: Seq[String])
      : Either[String, (RcStreaming.FilterSpec, String, Boolean)] = {
    val verbose = args.contains("-v") || args.contains("--verbose")
    val positional = args.filterNot(a => a == "-v" || a == "--verbose")
    positional.headOption match {
      case None => Left("Error: No filter specified from `config.filters`.")
      case Some(name) => filterlist.get(name) match {
        case None => Left(s"Error: $name is not a valid key in `config.filters`.")
        case Some(spec) => Right((spec, name, verbose))
      }
    }
  }

  /** Assemble and start the full job — the `scanner.py:54-59` twin:
    * resolve args, validate config, build the multi-topic source, run
    * the (verbose or standard) pipeline into the sink fan-out. `-v`
    * selects `pipelineVerbose` + `writeVerboseBatch`, so every skipped
    * event surfaces with its reason exactly like the reference's -v
    * prints; without it the standard pipeline + K1-K4 fan-out runs.
    */
  def run(spark: SparkSession, args: Seq[String], streamsDir: String,
      users: DataFrame, revisions: DataFrame, outDir: String, logLevel: Int,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : Either[String, org.apache.spark.sql.streaming.StreamingQuery] =
    resolveArgs(args).flatMap { case (spec, name, verbose) =>
      // config errors surface through the SAME Either as arg errors
      // (the reference prints both and exits) — callers fold once;
      // nothing escapes run() as an exception
      scala.util.Try {
        RcStreaming.validate(logLevel, spec)
        val sk = RcSinks(outDir, logLevel, name, echoConsole = verbose)
        val src = source(spark, streamsDir, spec)
        // per-mode checkpoints: the verbose and standard pipelines have
        // incompatible stateful topologies (fMGWS vs dropDuplicates), so
        // sharing one checkpoint would fail state restore or silently
        // emit nothing (offsets already committed)
        val writer =
          if (verbose)
            RcStreaming.pipelineVerbose(src, users, revisions, spec)
              .writeStream.foreachBatch(
                (b: DataFrame, id: Long) => sk.writeVerboseBatch(b, id))
              .option("checkpointLocation", s"$outDir/ckpt-verbose")
          else
            RcStreaming.pipeline(src, users, revisions, spec)
              .writeStream.foreachBatch(
                (b: DataFrame, id: Long) => sk.writeBatch(b, id))
              .option("checkpointLocation", s"$outDir/ckpt")
        writer.trigger(trigger).start()
      }.toEither.left.map(_.getMessage)
    }

  /** S1+S2: one SSE source per subscribed stream (the reference
    * multiplexes topics into one SSE connection, `filter_.py:104-108`;
    * here each topic is an independent source and the union is the
    * multiplex), parsed against the declared Change schema.
    */
  def source(spark: SparkSession, streamsDir: String,
      spec: RcStreaming.FilterSpec): DataFrame =
    spec.streams.map { topic =>
      spark.readStream.format("sse")
        .option("path", s"$streamsDir/$topic.sse").load()
        .select(from_json(col("value"), ChangeSchema.change).as("c"))
        .select("c.*")
    }.reduce(_.unionByName(_))
}
