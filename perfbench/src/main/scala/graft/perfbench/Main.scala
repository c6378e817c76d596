package graft.perfbench

import java.nio.file.{Files, Paths}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark process: set up a session the way `graft.Bench` does, run
  * untimed warm-up passes of the given query order (the first dumps each
  * query's output for the oracle check), then time whole passes as a closed
  * loop with one client thread. Writes a JSON record for `perfbench/run.py`,
  * which owns the metrics.
  *
  * Arguments: <record.json> <data dir> <check dir> <queries file>
  *            <warm-up passes> <seconds> <trace 0|1>
  *            <process start, epoch ms>
  */
object Main {
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Resident-set high-water mark of this process (MB), or -1. */
  private def vmHwmMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val Array(recordPath, dir, checkDir, queriesFile, warmArg, secondsArg, traceArg, t0Arg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    def lines(f: String) = Files.readAllLines(Paths.get(f)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val order = lines(queriesFile)
    val record = mutable.LinkedHashMap[String, Any]()
    val startMs = t0Arg.toLong

    // ---- set-up: session, registration, warm sources (as graft.Bench)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", Paths.get(checkDir).resolveSibling("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    graft.functions.Graft.register(spark)
    val registerMs = System.currentTimeMillis()
    graft.sources.Tables.All.foreach(t => graft.sources.Tables.load(spark, dir, t).count())
    graft.sources.Tables.load(spark, dir, "lineitem").groupBy("l_returnflag").count().collect()
    val readyMs = System.currentTimeMillis()
    record("setup_s") = (readyMs - startMs) / 1e3
    record("setup_phases") = Map(
      "to_session_s" -> (sessionMs - startMs) / 1e3,
      "register_s" -> (registerMs - sessionMs) / 1e3,
      "warm_sources_s" -> (readyMs - registerMs) / 1e3)

    // ---- warm-up: untimed passes over the workload's own queries, so the
    // timed pass sees a JIT-compiled driver and executor, not the JVM's
    // warm-up. The first pass builds every query in order, then writes the
    // outputs to parquet for the oracle check, one thread per core (no
    // builder runs while they write, as builders may change session
    // settings for their own scope). A query that throws there is a failed
    // query. Later warm-up passes repeat the timed loop's noop writes.
    def err(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    val dumpErrors = mutable.LinkedHashMap[String, String]()
    val warm0 = System.nanoTime()
    val built = order.flatMap { name =>
      try Some(name -> SparkEntry.queries(name)(spark, dir))
      catch { case e: Throwable => dumpErrors(name) = err(e); None }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    built.map { case (name, df) =>
      name -> pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String =
          try { df.write.mode("overwrite").parquet(s"$checkDir/$name"); "" }
          catch { case e: Throwable => err(e) }
      })
    }.foreach { case (name, f) => val e = f.get(); if (e.nonEmpty) dumpErrors(name) = e }
    pool.shutdown()
    record("dump_s") = (System.nanoTime() - warm0) / 1e9
    for (_ <- 1 until warmArg.toInt; name <- order if !dumpErrors.contains(name)) {
      try SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => } // the timed pass records it
    }
    record("warmup_s") = (System.nanoTime() - warm0) / 1e9
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json(order.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    record("dumped") = order.filterNot(dumpErrors.contains)
    record("dump_errors") = dumpErrors

    // ---- host speed just before the timed pass (see run.py)
    record("probe_s") = new Probe(cpus).run(7)

    // ---- timed region
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val rows = mutable.ArrayBuffer[Map[String, Any]]()
    val windows = mutable.ArrayBuffer[(String, Span, Span)]()
    val loop0 = System.nanoTime()
    val clock0 = System.currentTimeMillis() - loop0 / 1e6
    def ms(ns: Long) = clock0 + ns / 1e6
    var pass = 0
    var firstPassRssMb = -1.0
    while (pass == 0 || (System.nanoTime() - loop0) / 1e9 < seconds) {
      for (name <- order) {
        val t0 = System.nanoTime()
        var t1 = t0
        val error = try {
          val df = SparkEntry.queries(name)(spark, dir)
          t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          ""
        } catch { case e: Throwable => err(e) }
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        rows += Map("name" -> name, "pass" -> pass, "wall_s" -> (t2 - t0) / 1e9,
          "build_s" -> (t1 - t0) / 1e9, "error" -> error)
        windows += ((name, Span(ms(t0), ms(t1)), Span(ms(t1), ms(t2))))
      }
      if (pass == 0) firstPassRssMb = vmHwmMb()
      pass += 1
    }
    record("timed_s") = (System.nanoTime() - loop0) / 1e9
    record("passes") = pass
    record("queries") = rows.toSeq
    record("gc_s") = (gcMs() - gc0) / 1e3
    record("heap_used_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    record("heap_pool_peak_mb") = heapPools.map(p => p.getName -> p.getPeakUsage.getUsed / 1048576.0).toMap
    // after set-up, warm-up and one timed pass: a fixed amount of work,
    // whatever number of passes --seconds allows
    record("peak_rss_mb") = firstPassRssMb

    // ---- traced run: per-query layers, then the direct layer probes
    trace.foreach { tr =>
      tr.stop()
      val lastPass = windows.takeRight(order.size).zipWithIndex
      record("layers") = lastPass.map { case ((name, b, w), _) =>
        Map[String, Any]("name" -> name) ++ tr.layers(b, w)
      }
      record("spans") = lastPass.flatMap { case ((name, b, w), i) =>
        tr.spans(b, w).map { case (n, parent, s) =>
          Map("query" -> i, "query_name" -> name, "span" -> n, "parent" -> parent,
            "start_ms" -> s.start, "end_ms" -> s.end)
        }
      }
      val jobs = new java.util.concurrent.atomic.AtomicLong()
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(counter)
      val jobsStarted = () => { org.apache.spark.perfbench.Bus.drain(spark.sparkContext); jobs.get }
      record("probes") = Micro.sources(spark, dir, 3, jobsStarted) ++
        Micro.expressions(spark, 50000L, 3)
      spark.sparkContext.removeSparkListener(counter)
    }

    record("jvm") = Map(
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> sys.props("java.version"),
      "spark" -> spark.version,
      "process_cpu_s" -> ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9,
      "uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    Files.writeString(Paths.get(recordPath), Json(record))
    spark.stop()
  }
}

/** Minimal JSON encoder for the record (maps, sequences, numbers, strings). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
