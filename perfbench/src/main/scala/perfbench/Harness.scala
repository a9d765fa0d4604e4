package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark process: a closed loop with one client over a frozen op
  * list, calling only `SparkEntry.queries(op)(spark, dir)` and executing the
  * DataFrame with a `noop` write, as `graft.Bench` does.
  *
  *   --data DIR --ops a,b,c --seed N --seconds S --trace 0|1 --memos NAME,...
  *   --local-dir DIR --out FILE --check DIR
  *   --tile SRC,OUT,COPIES   (builds a `ScaleUpCore` tile and exits)
  *
  * Phases: session start, an untimed cold pass and one untimed warm pass
  * (set-up: fixture writes, memo builds and JIT land here), timed passes
  * until `seconds` have elapsed and at least three have run (each pass in
  * a seed-permuted order), then an untimed check pass that writes each
  * op's result to `check/<op>` for the oracle comparison. With `--trace 1`
  * plain and traced passes alternate as plain, traced, traced, plain, so a
  * pass time that still falls while the JIT settles weighs on both kinds
  * alike, and the ratio of their median pass times is the tracing overhead.
  *
  * Everything is written as one JSON file; the metric arithmetic lives in
  * `metrics.py`.
  */
object Harness {
  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def session(cpus: Int, localDir: String, trace: Boolean): SparkSession = {
    // The session confs of graft.Bench, plus a per-run spark.local.dir.
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.memory.storageFraction", "0.3")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[TraceQueryListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, a("local-dir"), a.get("trace").contains("1"))
    a.get("tile") match {
      case Some(t) =>
        val Array(src, out, copies) = t.split(",")
        graft.ScaleUpCore.run(spark, src, out, copies.toInt)
      case None => bench(spark, a)
    }
    spark.stop()
  }

  private def bench(spark: SparkSession, a: Map[String, String]): Unit = {
    val dir = a("data")
    val ops = a("ops").split(",").toSeq
    val queries = graft.SparkEntry.queries
    val trace = a("trace") == "1"
    val out = new Json
    out.num("session_ready_ms", System.currentTimeMillis())
    val sc = spark.sparkContext

    def runOp(op: String, tag: String): (Double, Double, Option[String]) = {
      sc.setLocalProperty("perfbench.op", tag)
      sc.setLocalProperty("perfbench.phase", "build")
      val t0 = System.nanoTime()
      var t1 = t0
      val err =
        try {
          val df = queries(op)(spark, dir)
          t1 = System.nanoTime()
          sc.setLocalProperty("perfbench.phase", "exec")
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(e.toString.take(300)) }
      val t2 = System.nanoTime()
      if (err.isDefined && t1 == t0) t1 = t2
      ((t2 - t0) / 1e9, (t1 - t0) / 1e9, err)
    }

    val memos = a("memos").split(",").filter(_.nonEmpty).toSeq
    if (trace) {
      val ms = graft.ops.PerfbenchMemos.force(spark, dir, memos)
      out.obj("memo_build_s", ms.map { case (n, s) => n -> Json.num(s) })
    }
    val rnd = new Random(a("seed").toLong)
    // One warm pass after the cold pass: the JIT keeps compiling through the
    // first passes, and a timed window that started right after the cold
    // pass read 30-60% slower on its first pass than on its later ones.
    val setupOrder = ops ++ rnd.shuffle(ops)
    out.arr("setup", setupOrder.zipWithIndex.map { case (op, i) =>
      val (s, _, err) = runOp(op, s"setup$i/$op")
      Json.obj("op" -> Json.str(op), "s" -> Json.num(s), "ok" -> Json.bool(err.isEmpty))
    })
    out.num("memo_cached_mb",
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    out.num("setup_done_ms", System.currentTimeMillis())

    val seconds = a("seconds").toDouble
    // At least three timed passes (four when tracing, two of each kind):
    // the first pass after set-up still runs slower while the JIT settles,
    // and in a two-pass window it made half of the median.
    val minPasses = if (trace) 4 else 3
    val errors = mutable.LinkedHashMap[String, String]()
    val passes = mutable.ArrayBuffer[String]()
    val w0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      if (traced) Tracer.attach(spark)
      val order = rnd.shuffle(ops)
      val p0 = System.nanoTime()
      val execs = order.map { op =>
        val tag = s"pass$p/$op"
        if (traced) Tracer.begin(tag)
        val (s, b, err) = runOp(op, tag)
        err.foreach(errors.getOrElseUpdate(op, _))
        if (traced) { org.apache.spark.PerfbenchBus.flush(sc); Tracer.end(s, b) }
        Json.obj("op" -> Json.str(op), "s" -> Json.num(s), "build_s" -> Json.num(b),
          "ok" -> Json.bool(err.isEmpty))
      }
      passes += Json.obj("kind" -> Json.str(if (traced) "traced" else "plain"),
        "wall_s" -> Json.num((System.nanoTime() - p0) / 1e9), "execs" -> Json.arr(execs))
      if (traced) Tracer.detach(spark)
      p += 1
    }
    if (trace) {
      out.arr("trace", Tracer.records.toSeq)
      out.obj("tables_resolve_ms", Tables.map { t =>
        val samples = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.t(spark, dir, t)
          (System.nanoTime() - t0) / 1e6
        }.sorted
        t -> Json.num(samples(1))
      })
    }
    out.arr("passes", passes.toSeq)
    out.obj("errors", errors.toSeq.map { case (k, v) => k -> Json.str(v) })
    out.num("vm_hwm_kb", vmHwmKb())

    sc.setLocalProperty("perfbench.op", null)
    val oracle = graft.SparkEntry.oracleSql
    out.obj("oracle_sql", ops.flatMap(op => oracle.get(op).map(q => op -> Json.str(q))))
    out.obj("check_errors", ops.flatMap { op =>
      try {
        queries(op)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"${a("check")}/$op")
        None
      } catch { case e: Throwable => Some(op -> Json.str(e.toString.take(300))) }
    })
    out.write(a("out"))
  }

  private def vmHwmKb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble
  }

  /** Physical nodes contributed by `graft.plans`, looking through AQE's
    * stage wrappers. */
  private def graftNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => graftNodes(a.executedPlan)
    case q: QueryStageExec => graftNodes(q.plan)
    case other =>
      (if (other.getClass.getName.startsWith("graft.")) 1 else 0) +
        other.children.map(graftNodes).sum
  }

  /** Listener-side counters for one op execution. The harness drains the
    * listener bus after every op, so all events land in the op that caused
    * them. Every job also carries its op's tag (local property `perfbench.op`)
    * and phase (`perfbench.phase`: build or exec), which Spark's own event
    * log keeps too. */
  object Tracer extends SparkListener {
    val records = mutable.ArrayBuffer[String]()
    @volatile private var cur: Acc = _

    final class Acc(val tag: String) {
      val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      val jobs = mutable.ArrayBuffer[(Long, Long)]()
      val jobStart = mutable.HashMap[Int, Long]()
      val stageSubmit = mutable.HashMap[Int, Long]()
      def add(k: String, v: Double): Unit = c(k) = c(k) + v
      def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
    }

    def begin(tag: String): Unit = cur = new Acc(tag)
    def end(wallS: Double, buildS: Double): Unit = {
      val acc = cur
      records += Json.obj(
        "tag" -> Json.str(acc.tag),
        "wall_s" -> Json.num(wallS),
        "build_s" -> Json.num(buildS),
        "jobs" -> Json.arr(acc.jobs.toSeq.map { case (s, e) => s"[$s,$e]" }),
        "c" -> Json.obj(acc.c.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    }

    private def on(f: Acc => Unit): Unit = {
      val acc = cur
      if (acc != null) acc.synchronized(f(acc))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = on { acc =>
      acc.jobStart(e.jobId) = e.time
      acc.add("jobs", 1)
      val phase = Option(e.properties).map(_.getProperty("perfbench.phase")).orNull
      if (phase == "build") acc.add("build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = on { acc =>
      acc.jobStart.remove(e.jobId).foreach(s => acc.jobs += ((s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = on { acc =>
      val si = e.stageInfo
      acc.stageSubmit(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
      acc.add("stages", 1)
      if (si.attemptNumber() > 0) acc.add("stage_retries", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { acc =>
      val ti = e.taskInfo
      acc.add("tasks", 1)
      if (e.reason != org.apache.spark.Success) acc.add("failed_tasks", 1)
      acc.add("task_sum_ms", ti.duration.toDouble)
      acc.max("task_max_ms", ti.duration.toDouble)
      acc.stageSubmit.get(e.stageId).foreach(s => acc.add("task_wait_ms", math.max(0L, ti.launchTime - s).toDouble))
      val m = e.taskMetrics
      if (m != null) {
        acc.add("cpu_ms", m.executorCpuTime / 1e6)
        acc.add("gc_ms", m.jvmGCTime.toDouble)
        acc.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        acc.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
        acc.add("write_bytes", m.outputMetrics.bytesWritten.toDouble)
        acc.add("write_rows", m.outputMetrics.recordsWritten.toDouble)
        acc.add("exchange_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        acc.add("exchange_write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
        acc.add("exchange_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        acc.add("exchange_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        acc.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        acc.max("peak_task_mem_bytes", m.peakExecutionMemory.toDouble)
      }
    }

    /** Streaming progress reaches the shared bus from every session, also
      * from the `newSession()` clones some streaming ops run in. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => on { acc =>
        acc.add("microbatches", 1)
        acc.add("stream_batch_ms", p.progress.batchDuration.toDouble)
        acc.add("stream_state_rows", p.progress.stateOperators.map(_.numRowsTotal).sum.toDouble)
      }
      case _ => ()
    }

    def onQuery(qe: QueryExecution): Unit = on { acc =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      acc.add("analysis_ms", ms("analysis"))
      acc.add("optimize_ms", ms("optimization"))
      acc.add("physical_ms", ms("planning"))
      acc.add("graft_nodes", graftNodes(qe.executedPlan).toDouble)
    }

    def attach(s: SparkSession): Unit = s.sparkContext.addSparkListener(this)
    def detach(s: SparkSession): Unit = {
      org.apache.spark.PerfbenchBus.flush(s.sparkContext)
      s.sparkContext.removeSparkListener(this)
      cur = null
    }
  }
}

/** Registered through `spark.sql.queryExecutionListeners` in traced runs, so
  * every session, also `newSession()` clones, reports its plan phases. It
  * stays registered through the plain passes too, where it returns at once
  * because no op is being traced. */
class TraceQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
    Harness.Tracer.onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    Harness.Tracer.onQuery(qe)
}

/** Minimal JSON writer for the harness output (values are pre-rendered). */
final class Json {
  private val fields = mutable.ArrayBuffer[String]()
  def num(k: String, v: Double): Unit = fields += Json.str(k) + ":" + Json.num(v)
  def arr(k: String, vs: Seq[String]): Unit = fields += Json.str(k) + ":" + Json.arr(vs)
  def obj(k: String, kvs: Seq[(String, String)]): Unit = fields += Json.str(k) + ":" + Json.obj(kvs: _*)
  def write(path: String): Unit =
    Files.writeString(Paths.get(path), fields.mkString("{", ",", "}\n"))
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def bool(b: Boolean): String = b.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
