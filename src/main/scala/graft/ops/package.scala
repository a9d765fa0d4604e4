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
}
