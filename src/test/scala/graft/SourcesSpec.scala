package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.sources.Tables

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh dir holding a small `nation` table, so the process-wide
    * schema cache has never seen its path. */
  private def nationDir(): String = {
    val dir = Files.createTempDirectory("graft-src").toString
    Seq((0L, "NATION_0", 0L), (1L, "NATION_1", 1L), (2L, "NATION_2", 0L),
        (3L, "NATION_3", 1L), (4L, "NATION_4", 0L))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    dir
  }

  /** The one part file of a single-partition Spark parquet write. */
  private def partFile(dir: String): Path =
    new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get.toPath

  /** Call sites (`parquet at Tables.scala:N`) of the jobs `body` fires.
    * Listener events arrive asynchronously but in order, so a marker job
    * run after `body` bounds the wait. */
  private def jobSites(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.nonEmpty) sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      def seen = sites.toArray.exists(_.toString.contains("SourcesSpec.scala"))
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, "marker job never reached the listener")
    } finally spark.sparkContext.removeSparkListener(listener)
    sites.toArray.map(_.toString).toSeq
      .filterNot(_.contains("SourcesSpec.scala"))
  }

  private def stagedFiles(dir: String): Map[String, Seq[Byte]] = {
    val it = Files.list(Paths.get(dir)).iterator()
    var out = Map.empty[String, Seq[Byte]]
    while (it.hasNext) {
      val f: Path = it.next()
      out += f.getFileName.toString -> Files.readAllBytes(f).toSeq
    }
    out
  }

  test("square rewrite rule: pow(x,2) becomes a multiply in the plan") {
    functions.Graft.register(spark)
    val df = Seq(1.5, 2.5).toDF("x").select(pow($"x", 2.0).as("sq"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("(x#") && optimized.toLowerCase.contains("* x#")
      || !optimized.contains("POWER"), optimized)
    assert(df.as[Double].collect().sorted.sameElements(Array(2.25, 6.25)))
  }

  test("rel_pow2_rewrite: driver query runs the rewritten multiply") {
    functions.Graft.register(spark)
    val df = SparkEntry.queries("rel_pow2_rewrite")(spark, "/root/testdata/sf0.001")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("POWER"),
      "pow(x,2) survived optimization: " + optimized.take(800))
    // value half: exact integral squares match a local replay
    val got = df.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select($"l_returnflag", $"l_quantity").as[(String, Double)].collect()
      .groupBy(_._1).map { case (k, xs) =>
        k -> (xs.length.toLong, xs.map(x => x._2 * x._2).sum) }
    assert(got == want, s"got $got want $want")
  }

  test("bucketed tables join without a shuffle (co-located merge join)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val o = Tables.load(s2, "/root/testdata/sf0.001", "orders")
    val l = Tables.load(s2, "/root/testdata/sf0.001", "lineitem")
    Tables.writeBucketed(o.select($"o_orderkey", $"o_totalprice"),
      "orders_b", Seq("o_orderkey"), 4)
    Tables.writeBucketed(l.select($"l_orderkey", $"l_quantity"),
      "lineitem_b", Seq("l_orderkey"), 4)
    val joined = s2.table("orders_b").join(s2.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(1200)}")
    assert(joined.count() > 0)
  }

  test("registerViews exposes every table to SQL") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    assert(spark.sql("SELECT count(*) FROM lineitem").as[Long].head() > 0)
    assert(spark.sql("SELECT count(*) FROM events").as[Long].head() > 0)
  }

  test("NTZ parquet (isAdjustedToUTC=false) loads as TimestampType, value-exact") {
    import org.apache.spark.sql.types._
    // Write a fixture whose ts is TIMESTAMP_NTZ — what pandas/pyarrow
    // naive timestamps become in Spark 4's reader — plus an NTZ date col
    // on a non-events table name, to pin the generalized normalization.
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    val micros = Seq(1712928600000000L, 1712928601500000L)
    spark.createDataFrame(
        spark.sparkContext.parallelize(micros.zipWithIndex.map { case (us, i) =>
          org.apache.spark.sql.Row(i.toLong, us)
        }),
        StructType(Seq(StructField("event_id", LongType),
          StructField("ts_us", LongType))))
      .withColumn("ts", timestamp_micros($"ts_us").cast(TimestampNTZType))
      .drop("ts_us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // raw read must come back NTZ or the fixture proves nothing
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      TimestampNTZType)
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.orderBy($"event_id")
      .select(unix_micros($"ts")).as[Long].collect()
    assert(got.toSeq == micros,
      s"NTZ→TZ cast not value-exact under UTC: ${got.toSeq}")
    // generalized path: any table, any NTZ column name
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L, 1712928600000000L))),
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("us", LongType))))
      .withColumn("o_orderdate", timestamp_micros($"us").cast(TimestampNTZType))
      .drop("us")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(Tables.load(spark, dir, "orders").schema("o_orderdate").dataType ==
      TimestampType)
  }

  test("partitioned writes prune partitions on filtered reads") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    Tables.writePartitioned(
      ev.select($"event_id", $"value", $"event_type"), out, Seq("event_type"))
    val back = spark.read.parquet(out).where($"event_type" === "click")
    back.collect()
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in scan:\n${plan.take(1200)}")
    // pruned scan must not read the other types' directories
    val n = back.count()
    val total = spark.read.parquet(out).count()
    assert(n > 0 && n < total)
  }

  test("fromNanos pins the ns->us truncation contract (toward zero)") {
    val df = Seq(
      (1L, 1500L),          // post-epoch, sub-us remainder -> earlier
      (2L, 999L),           // under one us -> 0
      (3L, -1500L),         // pre-epoch -> truncates LATER (toward 0)
      (4L, 1712928600000000000L), // exact us boundary -> exact
      (5L, -1000L)          // negative exact boundary -> exact
    ).toDF("event_id", "ts")
    val out = Tables.fromNanos(df, "ts")
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val us = out.select($"event_id",
        org.apache.spark.sql.functions.unix_micros($"ts"))
      .as[(Long, Long)].collect().toMap
    assert(us(1L) == 1L)
    assert(us(2L) == 0L)
    assert(us(3L) == -1L)
    assert(us(4L) == 1712928600000000L)
    assert(us(5L) == -1L)
  }

  test("schema cache: N loads of one table fire exactly one Tables.scala job") {
    val dir = nationDir()
    val sites = jobSites {
      (1 to 5).foreach(_ => Tables.load(spark, dir, "nation"))
    }
    assert(sites.count(_.contains("Tables.scala")) == 1, sites.mkString("; "))
    assert(sites.size == 1, sites.mkString("; "))
  }

  test("schema cache: a rewrite at the same path returns the new schema") {
    val dir = Files.createTempDirectory("graft-src").toString
    Seq((1L, 1.5)).toDF("id", "x")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "x"))
    Seq((2L, "b", 3)).toDF("id", "y", "z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.load(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "y", "z"))
    assert(back.as[(Long, String, Int)].collect().toSeq == Seq((2L, "b", 3)))
  }

  test("schema cache: flipping spark.sql.parquet.binaryAsString changes the type") {
    // A footer without Spark's schema metadata (as other writers leave
    // it): Spark-written files carry their own schema and ignore the conf.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-src").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary payload; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/bin.parquet"))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("payload", "abc"))
    finally w.close()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(Tables.load(s2, dir, "bin").schema("payload").dataType == BinaryType)
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    val asString = Tables.load(s2, dir, "bin")
    assert(asString.schema("payload").dataType == StringType)
    assert(asString.select($"payload").as[String].collect().toSeq == Seq("abc"))
    s2.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(Tables.load(s2, dir, "bin").schema("payload").dataType == BinaryType)
  }

  test("schema cache: a missing path still raises PATH_NOT_FOUND") {
    val dir = Files.createTempDirectory("graft-src").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, dir, "absent"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("schema cache: two loads of nation self-join as n1 and n2") {
    val dir = nationDir()
    val n1 = Tables.load(spark, dir, "nation")
    val n2 = Tables.load(spark, dir, "nation")
    val got = n1.join(n2, n1("n_regionkey") === n2("n_regionkey") &&
        n1("n_nationkey") < n2("n_nationkey"))
      .select(n1("n_name"), n2("n_name"))
      .as[(String, String)].collect().toSet
    val rows = n1.select($"n_nationkey", $"n_regionkey", $"n_name")
      .as[(Long, Long, String)].collect().toSeq
    val want = (for {
      a <- rows; b <- rows if a._2 == b._2 && a._1 < b._1
    } yield (a._3, b._3)).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("staged landing dir is byte-identical to the source, and restaged on rewrite") {
    val dir = Files.createTempDirectory("graft-src").toString
    val path = s"$dir/events.parquet"
    Seq((1L, "click", 1.5)).toDF("event_id", "event_type", "value").coalesce(1)
      .write.parquet(s"$dir/v1")
    Files.copy(partFile(s"$dir/v1"), Paths.get(path))
    val (in1, schema1) = SparkEntry.stageSource(spark, path, "events")
    assert(stagedFiles(in1) ==
      Map("events.parquet" -> Files.readAllBytes(Paths.get(path)).toSeq))
    assert(schema1 == Tables.schemaOf(spark, path))
    assert(SparkEntry.stageSource(spark, path, "events")._1 == in1)
    // same path, new bytes and schema: staged again, not the stale copy
    Files.copy(partFile(s"${nationDir()}/nation.parquet"), Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING)
    val (in2, schema2) = SparkEntry.stageSource(spark, path, "events")
    assert(in2 != in1)
    assert(stagedFiles(in2) ==
      Map("events.parquet" -> Files.readAllBytes(Paths.get(path)).toSeq))
    assert(schema2.fieldNames.contains("n_nationkey"))
    // a directory of part files stages each part file byte for byte
    val partsPath = s"$dir/parts.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2)
      .write.parquet(partsPath)
    val (in3, _) = SparkEntry.stageSource(spark, partsPath, "parts")
    val parts = stagedFiles(partsPath).filter(_._1.endsWith(".parquet"))
    assert(parts.size == 2)
    assert(stagedFiles(in3) == parts)
  }
}
