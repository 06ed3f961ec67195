package graft.schema

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}

/** Typed twins of the Change stream records (`utils.py:5-43`) for users
  * who want compile-time field checks (`Dataset[Change]`) instead of the
  * dynamic `DataFrame` surface. Field names/types mirror
  * [[ChangeSchema]] exactly so `df.as[Change]` binds by name.
  */
case class Meta(domain: String, partition: Option[Int], uri: String,
    offset: Option[Long], topic: String, request_id: String,
    schema_uri: String, dt: String, id: String)

/** `new` is not a legal Java identifier for Spark's encoder, so the
  * typed view exposes it as `new_rev`; [[Change.asDataset]] renames the
  * nested field during binding.
  */
case class OldNew(old: Option[Long], new_rev: Option[Long])

case class Change(comment: String, wiki: String, `type`: String,
    server_name: String, server_script_path: String, namespace: Option[Int],
    title: String, bot: Option[Boolean], server_url: String,
    length: OldNew, meta: Meta, user: String, timestamp: Option[Long],
    patrolled: Option[Boolean], id: Option[Long], minor: Option[Boolean],
    revision: OldNew)

object Change {
  implicit val encoder: Encoder[Change] = Encoders.product[Change]

  /** Bind a Change-schema DataFrame (e.g. parsed SSE JSON) to the typed
    * surface.
    */
  def asDataset(df: DataFrame): Dataset[Change] = {
    import org.apache.spark.sql.functions.{col, struct}
    def renamed(f: String) =
      struct(col(s"$f.old").as("old"), col(s"$f.new").as("new_rev")).as(f)
    df.withColumn("length", renamed("length"))
      .withColumn("revision", renamed("revision"))
      .as[Change]
  }
}
