package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: perfbench.Main --workload ingest|serve --inputs DIR --out DIR
  *          --trace 0|1 --seed N --work N --cores N
  *
  * Inputs are files generated by perfbench/gen.py. The harness warms
  * the workload's code paths, stamps the end of set-up, runs the fixed
  * timed work, and writes `result.json` (plus `spans.jsonl` when traced)
  * into DIR for perfbench/run.py, which checks the outputs and prints
  * the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    val cores = a("cores").toInt
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(s"[perfbench] session ready ${System.currentTimeMillis() - jvmStart} ms after JVM start")
    val tracer = new Tracer(a("trace") == "1", spark.sparkContext)
    val run = new Run(spark, tracer, a("inputs"), out, a("seed").toLong, a("work").toInt)
    // each workload is a sequence of phases, and one of them owns the
    // repeated operation behind `op_p50_ms`. In ingest the indexer runs
    // first: the JIT is still compiling for seconds after the warm-ups,
    // and the merges, whose latencies make the metric, come after that.
    val (phases, primary) = a("workload") match {
      case "ingest" => val u = new IndexUpsert(run); (Seq(new IndexerSchedule(run), u), u)
      case "serve" => val s = new SearchServe(run); (Seq(s, new CurationBatch(run)), s)
      case w => sys.error(s"unknown workload $w")
    }
    // warm-ups run last phase first: serve's curation warm-up drops the
    // index cache, so the search build must come after it
    phases.reverse.foreach(_.warmUp())
    run.setupDone()
    System.err.println(s"[perfbench] set-up done ${System.currentTimeMillis() - jvmStart} ms after JVM start")
    val t0 = System.nanoTime()
    tracer.span("timed") { phases.foreach(_.timed()) }
    run.timedDone((System.nanoTime() - t0) / 1e6, primary.opMs, phases.map(_.work).sum)
    tracer.drain()
    if (tracer.enabled) {
      val top = tracer.named("timed").head
      phases.foreach(_.layers())
      run.layerEngine(tracer.work(top), top)
      tracer.writeJsonl(s"$out/spans.jsonl")
    }
    phases.foreach(_.outputs())
    run.writeOracle(s"${a("inputs")}/lake")
    System.err.println(s"[perfbench] outputs done ${System.currentTimeMillis() - jvmStart} ms after JVM start")
    run.write(s"$out/result.json")
    spark.stop()
  }
}

/** State shared by the workloads: the session, the tracer, and the
  * result being assembled.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val inputs: String,
                val out: String, val seed: Long, val work: Int) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private var setupEpochMs = 0L
  private var jitAtSetup, gcAtSetup, jitAtEnd, gcAtEnd, opsAtSetup = 0L

  def setupDone(): Unit = {
    setupEpochMs = System.currentTimeMillis()
    jitAtSetup = jit.getTotalCompilationTime
    gcAtSetup = gcMs
    opsAtSetup = attempted
  }

  /** End-to-end figures: the median of the first phase's operation, and
    * the timed part's fixed work units over its wall time.
    */
  def timedDone(wallMs: Double, opMs: Seq[Double], work: Double): Unit = {
    jitAtEnd = jit.getTotalCompilationTime
    gcAtEnd = gcMs
    e2e("op_p50_ms") = Stats.median(opMs)
    e2e("work_per_s") = work / (wallMs / 1e3)
    detail("timed_s") = wallMs / 1e3
    detail("timed_ops") = attempted - opsAtSetup
  }

  /** Time one operation, counting it as attempted (and failed when it
    * throws: the failure is logged and the run goes on).
    */
  def op[T](name: String)(body: => T): (Option[T], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(name)(body))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** A key's construct / plan / execute split, timed from outside: the
    * query function call, `executedPlan`, then `toRdd.count()`.
    */
  def runKey(key: String, dir: String): (DataFrame, Long) = {
    val df = tracer.span("construct") { graft.SparkEntry.queries(key)(spark, dir) }
    tracer.span("plan") { df.queryExecution.executedPlan }
    val n = tracer.span("exec") { df.queryExecution.toRdd.count() }
    (df, n)
  }

  /** Key results from the last timed round or pass, for the oracles. */
  val oracleResults = mutable.LinkedHashMap.empty[String, DataFrame]

  /** Each key's result as one parquet file under `<dir>/<key>`, plus the
    * oracle SQL file, in the layout tools/check.py compares. Written by
    * three client threads: the writes re-execute small plans, and this
    * part is not timed.
    */
  def writeOracle(lake: String): Unit = if (oracleResults.nonEmpty) {
    val dir = s"$out/oracle"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writes = oracleResults.toSeq.map { case (k, df) =>
        Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$k"))
      }
      Await.result(Future.sequence(writes), Duration.Inf)
    } finally pool.shutdown()
    val sql = graft.SparkEntry.oracleSql
    val json = Json.of(oracleResults.keys.map(k => k -> sql(k)).toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), json)
    checks("oracle") = Map("lake" -> lake, "oracle_out" -> dir)
  }

  def layerEngine(w: Work, top: Span): Unit = {
    layers ++= Seq[(String, Double)](
      "spark.jobs" -> w.jobs.toDouble, "spark.tasks" -> w.tasks.toDouble,
      "spark.executor_run_ms" -> w.runMs.toDouble, "spark.executor_cpu_ms" -> w.cpuNs / 1e6,
      "spark.gc_ms" -> w.gcMs.toDouble, "spark.input_bytes" -> w.inputBytes.toDouble,
      "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble, "spark.spill_bytes" -> w.spill.toDouble,
      "jvm.jit_ms" -> jitAtSetup.toDouble, "jvm.jit_timed_ms" -> (jitAtEnd - jitAtSetup).toDouble,
      "jvm.gc_ms" -> (gcAtEnd - gcAtSetup).toDouble,
      "trace.self_sum_share" -> tracer.subtree(top).map(tracer.selfMs).sum / top.ms,
      "trace.attributed_share" -> (top.ms - tracer.selfMs(top)) / top.ms)
  }

  def write(path: String): Unit = {
    val doc = mutable.LinkedHashMap[String, Any](
      "setup_done_epoch_ms" -> setupEpochMs,
      "attempted" -> attempted, "failed" -> failed,
      "e2e" -> e2e, "detail" -> detail, "layers" -> layers, "checks" -> checks)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.of(doc))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One part of a workload: warmed up during set-up, then timed. */
trait Phase {
  /** Run the phase's code paths on throwaway state (set-up). */
  def warmUp(): Unit
  def timed(): Unit
  /** Latencies of the phase's repeated operation in the timed part. */
  def opMs: Seq[Double]
  /** Work units done in the timed part: a fixed count per workload. */
  def work: Double
  /** Per-layer metrics from the spans (traced runs only). */
  def layers(): Unit
  /** Outputs for the independent checks, written after the timed part. */
  def outputs(): Unit
}
