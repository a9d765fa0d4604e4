package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object ops {
  /** One declared operator: (session, sf-dir) → sorted, normalized DataFrame. */
  type Q = (SparkSession, String) => DataFrame

  /** `<java.io.tmpdir>/graft_<tag><|hash(d)|>`: the scratch directory an op
    * writes and reads back for data dir `d`. Ops run concurrently, so each
    * call site passes its own literal tag. */
  def scratchDir(d: String, tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$tag${Math.abs(d.hashCode)}"

  /** Writes `written` to parquet at `path` (overwrite, unpartitioned, with
    * the writer `options`) and reads it back declaring the schema it just
    * wrote, which skips parquet's schema-inference job. Not for read-backs
    * whose subject is inference or partition discovery. */
  def parquetRoundTrip(s: SparkSession, written: DataFrame, path: String,
                       options: (String, String)*): DataFrame = {
    written.write.mode("overwrite").options(options.toMap).parquet(path)
    s.read.schema(written.schema).parquet(path)
  }

  /** Builds a frame over temp views of `s`: binds each (name, frame) as a
    * view under a fresh unique name, calls `build` with name → view name,
    * and drops the views when it returns or throws. `sql()` and `table()`
    * analyze eagerly, so the built frame no longer needs its views. */
  def withTempViews(s: SparkSession, frames: (String, DataFrame)*)(
      build: Map[String, String] => DataFrame): DataFrame = {
    val views = frames.map { case (name, df) =>
      (name, df, s"graft_${name}_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    }
    try {
      views.foreach { case (_, df, vn) => df.createOrReplaceTempView(vn) }
      build(views.map { case (name, _, vn) => name -> vn }.toMap)
    } finally views.foreach { case (_, _, vn) => s.catalog.dropTempView(vn) }
  }
}
