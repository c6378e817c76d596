package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{AcdPsi, HawkesKernelSum, QuantizedDot}
import graft.functions.{Eod, Text, Tick}

/** Layer probes of the traced run that time calls into public entry
  * points directly, outside any query.
  */
object Micro {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `graft.sources.Tables.load` of every table, `reps` times each: the
    * summed median load time and the Spark jobs one load of all tables
    * fires (footer and schema inference).
    */
  def sources(spark: SparkSession, dir: String, reps: Int,
              jobsStarted: () => Long): Map[String, Double] = {
    val perTable = graft.sources.Tables.All.map { t =>
      val j0 = jobsStarted()
      val ts = (1 to reps).map(_ => timed(graft.sources.Tables.load(spark, dir, t)))
      (median(ts), (jobsStarted() - j0).toDouble / reps)
    }
    Map("sources.load_s" -> perTable.map(_._1).sum,
      "sources.load_jobs" -> perTable.map(_._2).sum)
  }

  private def col2(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftSqlBridge.column(e)
  private def ex(c: Column) = GraftSqlBridge.expression(c)

  /** The ten `graft.expressions` kernels, each through the entry point a
    * caller uses (`graft.functions` or the SQL name `Graft.register`
    * installs; the three kernels with neither are built directly), over a
    * cached `n`-row input. Returns ns per row of the median noop write of
    * the kernel's output column, less that of a plain column.
    */
  def expressions(spark: SparkSession, n: Long, reps: Int): Map[String, Double] = {
    val words = array(Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter").map(lit): _*)
    val input = spark.range(n).select(
      col("id"),
      (col("id") % 64).as("k"),
      ((col("id") % 1000 - 500) / 100.0).as("x"),
      (col("id") % 30 + 1).cast("double").as("dof"),
      (sin(col("id")) * 0.01).as("ret"),
      timestamp_micros(col("id") * 1000).as("ts"),
      (col("id") * 1000).as("us"),
      transform(sequence(lit(0), lit(59)), i => abs(sin(col("id") + i))).as("arr"),
      transform(sequence(lit(0), lit(59)), i => col("id") * 1000 - i * 7).as("larr"),
      transform(sequence(lit(0), lit(63)), i => cos(col("id") * i)).as("va"),
      transform(sequence(lit(0), lit(63)), i => sin(col("id") + i)).as("vb"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)),
        i => element_at(words, ((col("id") * 31 + i * 17) % 12 + 1).cast("int")))).as("text"))
      .cache()
    input.count()
    val w = Window.partitionBy("k").orderBy("id")
    // (name, kernel, copies per row): the cheap kernels are evaluated 8
    // times per row (common-subexpression elimination off) so their cost
    // stands out of the per-job overhead; the window kernels share one
    // window operator however often they are selected.
    val kernels: Seq[(String, Column, Int)] = Seq(
      ("student_t_cdf", expr("t_cdf(x, dof)"), 8),
      ("dot_product", expr("graft_dot(va, vb)"), 8),
      ("word_shingles", expr("word_shingles(text, 3)"), 1),
      ("shingle_min_hash", Text.fingerprint(col("text")), 1),
      ("epoch_us", Tick.epochUs(col("ts")), 8),
      ("ewma_vol", Eod.ewmaVolatility(col("ret"), w, 60), 1),
      ("garch_vol", Eod.garchVolatility(col("ret"), w, 60, 2.0e-8, 0.08, 0.90), 1),
      ("acd_psi", col2(AcdPsi(ex(col("arr")), 0.05, 0.10, 0.85)), 8),
      ("hawkes_kernel_sum", col2(HawkesKernelSum(ex(col("larr")), ex(col("us")), 0.995)), 8),
      ("quantized_dot", col2(QuantizedDot(ex(col("arr")), Array.fill(60)(1.0 / 60), 1e9)), 8))
    def noop(c: Column, copies: Int): Double = {
      val df: DataFrame = input.select((1 to copies).map(i => c.as(s"out$i")): _*)
      median((1 to reps).map(_ => timed(df.write.format("noop").mode("overwrite").save())))
    }
    val cse = "spark.sql.subexpressionElimination.enabled"
    val saved = spark.conf.get(cse)
    spark.conf.set(cse, "false")
    try {
      noop(col("id"), 1) // first scan of the cache compiles its reader
      // the same write of plain columns: job overhead and cache scan
      val base = Map(1 -> noop(col("id"), 1), 8 -> noop(col("id"), 8))
      kernels.map { case (name, k, copies) =>
        s"expressions.$name.ns_per_row" -> (noop(k, copies) - base(copies)) * 1e9 / (n * copies)
      }.toMap
    } finally {
      spark.conf.set(cse, saved)
      input.unpersist(blocking = true)
    }
  }
}
