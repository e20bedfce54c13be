package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command-line options, passed by perfbench/run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, small: String, work: File)

/** One workload: what a session needs before the first timed operation, an
  * untimed pass that writes the outputs the checker compares, the timed
  * pass, and the traced run's extra measurements. */
trait Workload {
  /** Set in a traced run while the listeners are attached. */
  var tracer: Option[Tracer] = None
  /** Per-session preparation, timed as part of `setup_s`. */
  def setup(spark: SparkSession, n: Int): Unit
  /** Untimed warm-up that also writes the outputs the checker reads. */
  def warmup(spark: SparkSession): Unit
  /** Untimed plain passes after the warm-up, where the first timed pass
    * would otherwise still run code the JIT has not finished compiling. */
  def warmPasses: Int = 1
  /** One timed pass; `n` counts passes from 0. */
  def pass(spark: SparkSession, n: Int): Unit
  /** Untimed work after the timed loop (final outputs, maintenance). */
  def finish(spark: SparkSession): Unit = ()
  /** Traced run only: measurements beyond the timed passes. */
  def extras(spark: SparkSession): Unit = ()
}

/** Closed-loop benchmark harness: one client, one operation in flight, one
  * warm `local[4]` session. It sets up `Main.Setups` times (the first from
  * JVM start), runs the warm-up, then timed passes until `--seconds` have
  * passed (at least `MinPasses`), and writes its spans to
  * `<work>/spans.jsonl`. With `--trace 1` it installs the [[Tracer]]
  * listeners after set-up.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --data SF_DIR --small SMALL_SF_DIR --work DIR
  */
object Main {
  val Cores = 4
  val Setups = 3
  val MinPasses = 2

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("small"), new File(kv("work")))
    val rec = new Recorder
    val wl: Workload = o.workload match {
      case "table_sql" => new TableSql(o, rec)
      case w => new QueryWorkload(o, rec, QueryWorkload.lists(w),
        QueryWorkload.contractOnly(w))
    }

    // Set-up, several times: the first interval starts at JVM start; later
    // ones stop the session and build a fresh one in the same JVM.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    (0 until Setups).foreach { n =>
      val t0 = if (n == 0) jvmStartMs else rec.nowMs
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(o)
      val sessionMs = rec.nowMs
      wl.setup(spark, n)
      val t1 = rec.nowMs
      rec.closed("setup", s"setup$n", t0, t1,
        Map("setup_s" -> (t1 - t0) / 1e3, "session_s" -> (sessionMs - t0) / 1e3))
    }

    val tracer = if (o.trace) Some(new Tracer(spark, rec)) else None
    wl.tracer = tracer
    rec.span("warmup", o.workload) {
      wl.warmup(spark)
      (1 to wl.warmPasses).foreach(i => rec.span("warm_pass", o.workload)(wl.pass(spark, -i)))
    }

    // whole passes until --seconds have passed, and at least two: with one
    // more or one fewer pass the JIT's warming trend would move the medians
    val loopStart = rec.nowMs
    var n = 0
    while (n < MinPasses || rec.nowMs - loopStart < o.seconds * 1e3) {
      val gc0 = Jvm.gcMs
      rec.span("pass", s"pass$n") {
        wl.pass(spark, n)
        rec.note("gc_ms", Jvm.gcMs - gc0)
        rec.note("heap_after_gc_mb", Jvm.heapAfterGcMb)
      }
      n += 1
    }
    tracer.foreach { t =>
      rec.span("extras", o.workload)(wl.extras(spark))
      // one pass with every listener detached, then one traced again: their
      // difference is the tracing overhead
      t.detach()
      wl.tracer = None
      rec.span("pass_untraced", s"pass$n")(wl.pass(spark, n))
      t.attach()
      wl.tracer = tracer
      rec.span("pass_retraced", s"pass${n + 1}")(wl.pass(spark, n + 1))
    }
    rec.span("finish", o.workload)(wl.finish(spark))
    tracer.foreach(_.detach())
    rec.write(new File(o.work, "spans.jsonl"))
    spark.stop()
  }
}
