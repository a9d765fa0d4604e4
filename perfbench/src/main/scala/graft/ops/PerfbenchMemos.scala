package graft.ops

import org.apache.spark.sql.SparkSession

/** Times the build of named process-lifetime memos, under the names
  * `Shared.forceMemos` reports (`Shared` is package-private, and
  * `forceMemos` builds all four where a workload consumes fewer). */
object PerfbenchMemos {
  def force(s: SparkSession, d: String, names: Seq[String]): Seq[(String, Double)] =
    names.map { n =>
      val build: () => Unit = n match {
        case "shared.word_pairs" => () => { Shared.wordPairs(s, d); () }
        case "shared.cc_labels" => () => { Shared.ccLabels(s, d); () }
        case "shared.vecs" => () => { Shared.vecs(s, d); () }
        case "bpe.trained" => () => LlmCuration.forceBpeMemo(s, d)
      }
      val t0 = System.nanoTime()
      build()
      n -> (System.nanoTime() - t0) / 1e9
    }
}
