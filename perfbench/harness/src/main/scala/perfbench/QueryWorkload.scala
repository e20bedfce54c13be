package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query workload: every pass runs each query once, in an order the seed
  * sets, and materializes its full result through the `noop` sink. The
  * warm-up pass writes each result as parquet for the DuckDB check. */
final class QueryWorkload(o: Opts, rec: Recorder, names: Seq[String],
    contractOnly: Seq[String]) extends Workload {
  private lazy val fns: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries.filter { case (n, _) => (names ++ contractOnly).contains(n) }

  /** Resolves the workload's queries and registers a view over every input
    * table (reading each file's schema), as a session serving them would. */
  def setup(spark: SparkSession, n: Int): Unit = {
    val all = names ++ contractOnly
    require(all.forall(fns.contains),
      s"unknown queries: ${all.filterNot(fns.contains).mkString(", ")}")
    Option(new File(o.data).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).foreach { f =>
        spark.read.parquet(f.getAbsolutePath)
          .createOrReplaceTempView("pb_" + f.getName.stripSuffix(".parquet"))
      }
  }

  /** One operation: build the DataFrame (the operator layer, with any eager
    * jobs it runs), then produce its full result. */
  private def op(spark: SparkSession, name: String, dir: String): Unit =
    rec.span("op", name)(rec.guard {
      val df = rec.span("build", name)(fns(name)(spark, dir))
      tracer.foreach(_.phasesOf(df))
      rec.span("exec", name)(df.write.format("noop").mode("overwrite").save())
    })

  /** Writes every result for the checker. A query with no DuckDB oracle is
    * written twice, from two builds, and must give the same rows both times. */
  def warmup(spark: SparkSession): Unit = {
    val out = new File(o.work, "results")
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    names.foreach { name =>
      val copies = if (oracle.contains(name)) Seq(name) else Seq(name, s"$name.again")
      copies.foreach { c =>
        rec.span("check", c)(rec.guard {
          fns(name)(spark, o.data).write.mode("overwrite")
            .parquet(new File(out, c).getAbsolutePath)
        })
      }
    }
    Files.writeString(Paths.get(new File(out, "oracle_sql.json").getAbsolutePath),
      Json.value(oracle))
  }

  // measured: after the cold pass and one plain pass, the next pass still
  // ran 10-15 % slower than the one after it
  override def warmPasses: Int = 2

  def pass(spark: SparkSession, n: Int): Unit =
    new scala.util.Random(o.seed * 1000003L + n).shuffle(names)
      .foreach(op(spark, _, o.data))

  /** One pass at the smaller scale for the fixed-versus-proportional split,
    * the `count()` action `graft.Bench` times beside each full result, and
    * the same three numbers for queries whose full result costs too much to
    * repeat every pass (their sf0.01 run doubles as their warm-up). */
  override def extras(spark: SparkSession): Unit = {
    rec.span("pass_small", "small")(names.foreach(op(spark, _, o.small)))
    contractOnly.foreach { name =>
      rec.span("contract", "small")(op(spark, name, o.small))
      rec.span("contract", "full")(op(spark, name, o.data))
    }
    (names ++ contractOnly).foreach { name =>
      rec.span("count", name)(rec.guard(fns(name)(spark, o.data).count()))
    }
  }
}

object QueryWorkload {
  val lists: Map[String, Seq[String]] = Map(
    "etl_offers" -> Seq("q03_clean_text", "q06_dict_lookup",
      "q08_latest_snapshot", "q39_html_offers", "q184_tpch_q3"),
    "llm_curation" -> Seq("q22_minhash_lsh", "q24_ngram_jaccard",
      "q91_embedding_dedup", "q138_bpe_encode"))

  /** Measured in the traced run only: the largest costs `count()` hides,
    * and q05, whose 2.3-s full result would take half of every pass. */
  val contractOnly: Map[String, Seq[String]] = Map(
    "etl_offers" -> Seq("q05_number_extract", "q19_min_max_fanout",
      "q20_salary_pipeline"),
    "llm_curation" -> Seq("q105_dup_spans"))
}
