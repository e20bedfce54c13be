package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** `table_sql`: a closed-loop stream of SQL statements against one
  * `graft_cat` versioned table. A pass is one round of writes (INSERT,
  * UPDATE, DELETE, MERGE, a streaming append) and reads (full scan,
  * GROUP BY aggregate, point lookup, `VERSION AS OF` aggregate). Optimize
  * and vacuum run once, after the timed loop. Every statement, its
  * parameters, the version it committed and every read's result go to
  * `<work>/statements.jsonl`; run.py replays the log in DuckDB.
  *
  * Inputs are staged by run.py under `<work>/stage`: `base` (the initial
  * rows) and `pool/block=N` (blocks that INSERT, MERGE and the stream take
  * without overlap). */
final class TableSql(o: Opts, rec: Recorder) extends Workload {
  import TableSql._

  private val stage = new File(o.work, "stage")
  private val basePath = new File(stage, "base").getAbsolutePath
  private val poolPath = new File(stage, "pool").getAbsolutePath
  private val streamIn = new File(stage, "stream")
  private val checkpoint = new File(stage, "checkpoint").getAbsolutePath
  private var warehouse: File = _
  private def tableDir = new File(warehouse, "bench/t")

  // the seed picks the order pool blocks are consumed in, the UPDATE,
  // DELETE and MERGE key ranges, the point keys and the travel versions
  private val rng = new scala.util.Random(o.seed)
  private val blocks = rng.shuffle((0 until PoolRows / BlockRows).toList).iterator
  private var versions = Vector.empty[Long]
  private var seq = 0
  private val log = new PrintWriter(new File(o.work, "statements.jsonl"), "UTF-8")

  def setup(spark: SparkSession, n: Int): Unit = {
    warehouse = new File(o.work, s"warehouse$n")
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", warehouse.getAbsolutePath)
    spark.read.parquet(basePath).createOrReplaceTempView("pb_base")
    spark.read.parquet(poolPath).createOrReplaceTempView("pb_pool")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.bench")
    spark.sql(s"CREATE TABLE $T ($Columns)")
    spark.sql(s"INSERT INTO $T SELECT $Names FROM pb_base")
    versions = Vector(latest(spark))
    entry("verb" -> "load", "setup" -> n, "version" -> versions.head)
  }

  private def latest(spark: SparkSession): Long =
    graft.sources.Versioned.latestVersion(spark, tableDir.getAbsolutePath).get

  private def entry(fields: (String, Any)*): Unit = log.println(Json.value(fields.toMap))

  /** Data files under the table directory, by relative path → bytes. */
  private def files(): Map[String, Long] = {
    val root = tableDir.toPath
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    } finally s.close()
  }

  /** A write statement: timed as one operation; afterwards (untimed) the
    * version it committed and the data files it added go to the log. */
  private def write(spark: SparkSession, round: Int, verb: String,
      params: (String, Any)*)(body: => Unit): Unit = {
    val before = files()
    seq += 1
    rec.span("op", verb) {
      rec.note("seq", seq)
      rec.guard(rec.span("exec", verb)(body))
    }
    val added = files() -- before.keySet
    val v = latest(spark)
    if (!versions.contains(v)) versions :+= v
    entry(Seq("seq" -> seq, "round" -> round, "verb" -> verb, "version" -> v,
      "files_added" -> added.size, "bytes_added" -> added.values.sum) ++ params: _*)
  }

  /** A read statement: building the DataFrame (parse, analysis, table
    * load) and producing its result with `run` are timed; the rows `check`
    * returns (untimed) go to the log. */
  private def read(spark: SparkSession, round: Int, verb: String, sql: String,
      params: (String, Any)*)(run: DataFrame => Array[Row] = _.collect(),
      check: Array[Row] => Array[Row] = identity): Unit = {
    seq += 1
    var rows = Array.empty[Row]
    rec.span("op", verb) {
      rec.note("seq", seq)
      rec.guard {
        val df = rec.span("build", verb)(spark.sql(sql))
        tracer.foreach(_.phasesOf(df))
        rows = rec.span("exec", verb)(run(df))
      }
    }
    entry(Seq("seq" -> seq, "round" -> round, "verb" -> verb,
      "rows" -> check(rows).map(_.toSeq)) ++ params: _*)
  }

  /** A key range inside the initial rows, so every range has work to do. */
  private def range(width: Int): (Long, Long) = {
    val lo = 1L + rng.nextInt(BaseRows - width)
    (lo, lo + width)
  }

  private def round(spark: SparkSession, r: Int): Unit = {
    val ins = blocks.next()
    write(spark, r, "insert", "block" -> ins) {
      spark.sql(s"INSERT INTO $T SELECT $Names FROM pb_pool WHERE block = $ins")
    }
    val (ulo, uhi) = range(UpdateWidth)
    write(spark, r, "update", "lo" -> ulo, "hi" -> uhi) {
      spark.sql(s"UPDATE $T SET qty = qty + 1, price_cents = price_cents + 7 " +
        s"WHERE k >= $ulo AND k < $uhi")
    }
    val (dlo, dhi) = range(DeleteWidth)
    write(spark, r, "delete", "lo" -> dlo, "hi" -> dhi) {
      spark.sql(s"DELETE FROM $T WHERE k >= $dlo AND k < $dhi")
    }
    // MERGE source: changed prices for a base key range (matched unless
    // deleted) plus one fresh pool block (never matched)
    val (mlo, mhi) = range(MergeWidth)
    val mb = blocks.next()
    spark.sql(s"SELECT k, orderkey, partkey, qty, price_cents + 13 AS price_cents, flag " +
      s"FROM pb_base WHERE k >= $mlo AND k < $mhi " +
      s"UNION ALL SELECT $Names FROM pb_pool WHERE block = $mb")
      .createOrReplaceTempView("pb_merge")
    write(spark, r, "merge", "lo" -> mlo, "hi" -> mhi, "block" -> mb) {
      spark.sql(s"MERGE INTO $T t USING pb_merge s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET qty = s.qty, price_cents = s.price_cents " +
        s"WHEN NOT MATCHED THEN INSERT ($Names) VALUES " +
        Names.split(", ").map("s." + _).mkString("(", ", ", ")"))
    }
    // streaming append: stage one pool block's file (untimed), then drain
    // it into the table with an AvailableNow run
    val sb = blocks.next()
    val blockDir = new File(poolPath, s"block=$sb")
    blockDir.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
      case (f, i) => Files.copy(f.toPath, new File(streamIn, s"b$sb-$i.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    write(spark, r, "stream", "block" -> sb) {
      spark.readStream.schema(Columns).parquet(streamIn.getAbsolutePath)
        .writeStream.option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).toTable(T)
        .awaitTermination()
    }

    // reads: a full scan materialized through `noop` (checked by an untimed
    // count-and-sums fingerprint of the same version), then three queries
    // whose results arrive at the client
    read(spark, r, "scan", s"SELECT * FROM $T")(
      run = df => { df.write.format("noop").mode("overwrite").save(); Array.empty },
      check = _ => spark.sql(s"SELECT COUNT(*) AS n, SUM(k) AS sk, " +
        s"SUM(qty) AS sq, SUM(price_cents) AS sp FROM $T").collect())
    read(spark, r, "agg", s"SELECT flag, COUNT(*) AS n, SUM(qty) AS sq, " +
      s"SUM(price_cents) AS sp FROM $T GROUP BY flag")()
    val key = 1L + rng.nextInt(BaseRows + PoolRows)
    read(spark, r, "point", s"SELECT $Names FROM $T WHERE k = $key", "key" -> key)()
    val v = versions(rng.nextInt(versions.size))
    read(spark, r, "travel", s"SELECT COUNT(*) AS n, SUM(price_cents) AS sp " +
      s"FROM $T VERSION AS OF $v", "v" -> v)()
  }

  def warmup(spark: SparkSession): Unit = round(spark, -2)

  def pass(spark: SparkSession, n: Int): Unit = round(spark, n)

  /** Maintenance, then the final table and its on-disk layout for the
    * checker: optimize and vacuum are timed operations outside any pass. */
  override def finish(spark: SparkSession): Unit = {
    write(spark, -3, "optimize") {
      spark.sql("CALL graft_cat.system.optimize('bench.t', 4)").collect()
    }
    write(spark, -3, "vacuum") {
      spark.sql("CALL graft_cat.system.vacuum('bench.t', 1)").collect()
    }
    spark.sql(s"SELECT $Names FROM $T").write.parquet(new File(o.work, "final_table").getAbsolutePath)
    val live = spark.sql("SELECT file FROM graft_cat.bench.t.files").collect()
      .map(_.getString(0))
    def bytesUnder(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
      else f.length()
    // manifest entries name files relative to the table's data directory
    val liveBytes = live.map { f =>
      Seq(new File(f), new File(tableDir, f), new File(tableDir, s"data/$f"))
        .find(_.isFile).map(_.length()).getOrElse(0L)
    }.sum
    entry("verb" -> "layout", "live_files" -> live.length, "live_bytes" -> liveBytes,
      "table_bytes" -> bytesUnder(tableDir),
      "manifest_bytes" -> bytesUnder(new File(tableDir, "_manifests")))
    log.close()
  }
}

object TableSql {
  val T = "graft_cat.bench.t"
  val Columns = "k BIGINT, orderkey BIGINT, partkey BIGINT, qty BIGINT, " +
    "price_cents BIGINT, flag STRING"
  val Names = "k, orderkey, partkey, qty, price_cents, flag"
  // the staged inputs' shape, as perfbench/run.py writes them
  val BaseRows = 100000
  val PoolRows = 500000
  val BlockRows = 1000
  val UpdateWidth = 2000
  val DeleteWidth = 500
  val MergeWidth = 1000
}
