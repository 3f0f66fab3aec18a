package graft.io

import graft.SparkSpec
import graft.streaming.EventStream
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IoStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("readMaxQuant parses TSV with header and inferred types") {
    val tmp = Files.createTempDirectory("mq").toString
    Files.writeString(java.nio.file.Paths.get(tmp, "sites.txt"),
      "id\tProteins\tLocalization prob\tReverse\n" +
      "1\tP07830;P63267\t0.99\t\n" +
      "2\tQ12345\t0.42\t+\n")
    val df = MaxQuant.readMaxQuant(spark, s"$tmp/sites.txt")
    assert(df.count() == 2)
    assert(df.schema("Localization prob").dataType.typeName == "double")
    assert(df.filter($"Reverse" === "+").count() == 1)
  }

  test("readPerseus keeps label row only, types from #!{Type} row, malformed numerics -> null") {
    val tmp = Files.createTempDirectory("pers").toString
    Files.writeString(java.nio.file.Paths.get(tmp, "p.txt"),
      "Proteins\tIntensity A\tIntensity B\n" +
      "#!{Type}T\tE\tE\n" +
      "#!{C:Group}\tWT\tKO\n" +
      "#!{N:Replicate}\t1\t2\n" +
      "P1\t1.5\t2.5\n" +
      "P2\t3.5\t4.5\n" +
      "P3\tNaN?\tbroken\n") // malformed numerics coerce to null, not ANSI error
    val df = MaxQuant.readPerseus(spark, s"$tmp/p.txt")
    assert(df.columns.toSeq == Seq("Proteins", "Intensity A", "Intensity B"))
    assert(df.count() == 3)
    assert(df.schema("Intensity A").dataType.typeName == "double")
    assert(approx(df.filter($"Proteins" === "P1").head().getDouble(1), 1.5))
    assert(df.filter($"Proteins" === "P3").head().isNullAt(1))
  }

  test("writePerseus emits data parts + header sidecar with type row") {
    val tmp = Files.createTempDirectory("persw").toString + "/out"
    val df = Seq(("P1", 0.9, 1.0)).toDF("Proteins", "Localization prob", "Intensity A")
    MaxQuant.writePerseus(df, tmp, singleFile = true)
    val header = Files.readString(java.nio.file.Paths.get(tmp, "_perseus_header.tsv"))
    assert(header.startsWith("Proteins\tLocalization prob\tIntensity A\n"))
    assert(header.contains("#!{Type}T\tN\tE"))
  }

  test("writePerseus round-trip at the distributed path: parts + sidecar re-ingest with types") {
    val tmp = Files.createTempDirectory("perspart").toString + "/out"
    val df = Seq(
      ("P1", 0.9, 1.5, "+"),
      ("P2", 0.4, 2.5, null.asInstanceOf[String]),
      ("P3", 0.7, 3.5, null.asInstanceOf[String])
    ).toDF("Proteins", "Localization prob", "Intensity A", "Reverse")
      .repartition(3) // multiple part files — the warehouse-scale form
    MaxQuant.writePerseus(df, tmp)
    val parts = new java.io.File(tmp).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts > 1, s"expected a multi-part write, got $parts part file(s)")
    val back = MaxQuant.readPerseus(spark, tmp)
    assert(back.columns.toSeq == df.columns.toSeq)
    assert(back.schema("Localization prob").dataType.typeName == "double")
    assert(back.schema("Intensity A").dataType.typeName == "double")
    assert(back.schema("Proteins").dataType.typeName == "string")
    val rows = back.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), Option(r.getString(3)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("P1", 0.9, 1.5, Some("+")), ("P2", 0.4, 2.5, None), ("P3", 0.7, 3.5, None)))
  }

  test("writePerseusFile round-trip: one file, injected type row, types survive readPerseus") {
    val tmp = Files.createTempDirectory("persrt").toString
    val path = s"$tmp/perseus.txt"
    val df = Seq(
      ("P1", 0.9, 1.5, "+"),
      ("P2", 0.4, 2.5, null.asInstanceOf[String])
    ).toDF("Proteins", "Localization prob", "Intensity A", "Reverse")
    MaxQuant.writePerseusFile(df, path)
    // exactly one regular file, reference layout: labels, #!{Type} row, data
    val lines = Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.get(0) == "Proteins\tLocalization prob\tIntensity A\tReverse")
    assert(lines.get(1) == "#!{Type}T\tN\tE\tC")
    assert(lines.size() == 4)
    val back = MaxQuant.readPerseus(spark, path)
    assert(back.columns.toSeq == df.columns.toSeq)
    assert(back.schema("Localization prob").dataType.typeName == "double")
    assert(back.schema("Intensity A").dataType.typeName == "double")
    assert(back.schema("Proteins").dataType.typeName == "string")
    val rows = back.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), Option(r.getString(3)))).sortBy(_._1)
    assert(rows.toSeq == Seq(("P1", 0.9, 1.5, Some("+")), ("P2", 0.4, 2.5, None)))
  }

  test("writePerseusFile size guard refuses warehouse-scale single-file exports") {
    val tmp = Files.createTempDirectory("persguard").toString
    val df = spark.range(10000).selectExpr(
      "concat('P', id) AS Proteins", "CAST(id AS DOUBLE) AS `Intensity A`")
    val e = intercept[IllegalArgumentException] {
      MaxQuant.writePerseusFile(df, s"$tmp/too_big.txt", maxBytes = 1024L)
    }
    assert(e.getMessage.contains("writePerseus"))
    assert(!Files.exists(java.nio.file.Paths.get(tmp, "too_big.txt")),
      "guard must fire before any write")
    // the same frame sails through at the default cap
    MaxQuant.writePerseusFile(df.limit(3), s"$tmp/small.txt")
    assert(Files.readAllLines(java.nio.file.Paths.get(tmp, "small.txt")).size() == 5)
  }

  test("size guard measures actual text bytes — long-string frames can't ride a small row count past it") {
    // join → plan estimate multiplies → over-estimate path → measured
    // bound decides. 100 rows × 1KB strings ≈ 100 KB of TSV: a
    // rows × fixed-type-width bound (20 B per string) would have
    // waved this through at 10 KiB; the measured byte sum refuses.
    val tmp = Files.createTempDirectory("persguard2").toString
    val left = spark.range(100).selectExpr("id", "repeat('x', 1000) AS txt")
    val dim = spark.range(100).selectExpr("id", "CAST(id % 3 AS DOUBLE) AS g")
    val joined = left.join(dim, "id")
    val e = intercept[IllegalArgumentException] {
      MaxQuant.writePerseusFile(joined, s"$tmp/sneak.txt", maxBytes = 10240L)
    }
    assert(e.getMessage.contains("measured"))
    assert(!Files.exists(java.nio.file.Paths.get(tmp, "sneak.txt")))
    // a genuinely small frame through the same over-estimating plan
    // shape passes via the measured path
    MaxQuant.writePerseusFile(joined.limit(3), s"$tmp/ok.txt", maxBytes = 10240L)
    assert(Files.readAllLines(java.nio.file.Paths.get(tmp, "ok.txt")).size() == 5)
  }

  test("phosphopathFrame string surgery matches reference format") {
    val df = Seq(
      ("Q13619;P999", "S", "10;22", "___1"),
      ("Q9H3Z4-2 extra", "T", "100", "___3")
    ).toDF("Proteins", "Amino acid", "Positions", "Multiplicity")
    val out = MaxQuant.phosphopathFrame(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.contains(("Q13619", "Q13619-S10", "S10", "1")))
    assert(out.contains(("Q9H3Z4", "Q9H3Z4-T100", "T100", "3")))
  }

  test("phosphopathRatioFrame encodes protein-rsite-mult-tp with ordinal timepoints") {
    val long = Seq(
      ("P1", "S5", 1, "Control", 0, 2.0), ("P1", "S5", 1, "Control", 0, 4.0),
      ("P1", "S5", 1, "PGE2", 5, 1.0), ("P1", "S5", 1, "PGE2", 5, 2.0),
      ("P1", "S5", 1, "PGE2", 30, 6.0)
    ).toDF("protein", "rsite", "multiplicity", "group", "timepoint", "value")
    val out = MaxQuant.phosphopathRatioFrame(long, "group", "timepoint", "value",
        "Control", Seq(("PGE2", 5), ("PGE2", 30)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx(out("P1-S5-1-1"), 3.0 / 1.5)) // tp 5 → ordinal 1
    assert(approx(out("P1-S5-1-2"), 3.0 / 6.0)) // tp 30 → ordinal 2
  }

  test("rFrame joins index tuples with @") {
    val df = Seq((1, "S", 2.5)).toDF("id", "aa", "v")
    val out = MaxQuant.rFrame(df, Seq("id", "aa"))
    assert(out.columns.toSeq == Seq("index", "v"))
    assert(out.head().getString(0) == "1@S")
  }

  /** Streaming file sources require a directory: stage the (small)
    * events file into a temp dir. */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("events_stream")
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming windowedAgg equals batch aggregation on the same data") {
    val dir = "/root/testdata/sf0.001"
    val stream = EventStream.windowedAgg(EventStream.readEvents(spark, eventsDir))
    val q = EventStream.runToMemory(stream, "win_agg", outputMode = "append")
    q.stop()
    // append mode only emits closed windows (watermark); compare the
    // emitted subset against batch values
    val got = spark.table("win_agg")
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
    val batch = graft.Tables.events(spark, dir)
      .withColumn("event_ts", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(window(col("event_ts"), "1 hour").getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    val gotMap = got.collect().map(r => (r.get(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batchMap = batch.collect().map(r => (r.get(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(gotMap.nonEmpty)
    gotMap.foreach { case (k, v) =>
      assert(batchMap(k)._1 == v._1)
      assert(approx(batchMap(k)._2, v._2, 1e-6))
    }
  }

  test("streaming sessionize matches batch window sessionization") {
    val dir = "/root/testdata/sf0.001"
    val events = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.runToMemory(
      EventStream.sessionize(spark, events), "sessions", outputMode = "append")
    q.stop()
    val got = spark.table("sessions")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // batch reference (same as q_sessionize)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = graft.Tables.events(spark, dir)
      .withColumn("_gap", when(col("ts") - lag(col("ts"), 1).over(w) > 1800000000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("_gap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("session_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got.nonEmpty && got.size == batch.size)
    got.foreach { case (id, s) => assert(batch(id) == s, s"event $id") }
  }

  test("stateful operators run under the RocksDB state store provider with identical results") {
    // the at-scale provider (state off-heap/on-disk instead of the
    // HDFS-backed on-heap maps): the provider must load, the stateful
    // operators must produce the SAME rows as the default provider,
    // and the progress must prove RocksDB actually held the state
    // (provider-specific custom metrics present). The cost/memory side
    // at sf1 is BENCH_NOTES "Round-14: streaming state at scale".
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = EventStream.readEvents(spark, eventsDir)
      val q = EventStream.runToMemory(
        EventStream.sessionize(spark, events), "sessions_rocks", outputMode = "append")
      val metrics = q.recentProgress.toSeq
        .flatMap(_.stateOperators).flatMap(_.customMetrics.keySet().toArray)
      q.stop()
      assert(metrics.exists(_.toString.startsWith("rocksdb")),
        s"no rocksdb custom metrics in progress: ${metrics.distinct}")
      val rocks = spark.table("sessions_rocks")
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      // provider choice must not change the operator's output: compare
      // against the batch window sessionization (same reference as the
      // default-provider test above)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .withColumn("_gap",
          when(col("ts") - lag(col("ts"), 1).over(w) > 1800000000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("_gap")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_id"), col("session_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(rocks.nonEmpty && rocks == batch,
        s"rocksdb run diverged: ${rocks.size} vs ${batch.size} assignments")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val events = EventStream.readEvents(spark, eventsDir)
      // synthesize duplicates: halve the key space
      .withColumn("dup_key", col("event_id") % 100)
    val q = EventStream.runToMemory(
      EventStream.dedupeStream(events, Seq("dup_key")), "dedup_stream")
    q.stop()
    val got = spark.table("dedup_stream")
    assert(got.count() <= 100)
    assert(got.select("dup_key").distinct().count() == got.count())
  }

  test("stream-static enrich equals the batch broadcast join") {
    val dim = Seq(("view", "browse"), ("click", "browse"), ("purchase", "convert"))
      .toDF("event_type", "category")
    val q = EventStream.runToMemory(
      EventStream.enrich(EventStream.readEvents(spark, eventsDir), dim, Seq("event_type"))
        .select($"event_id", $"category"),
      "enrich_stream")
    q.stop()
    val got = spark.table("enrich_stream")
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .join(dim, Seq("event_type"), "left")
      .select($"event_id", $"category")
    assert(got.count() == batch.count()) // left join: every event survives
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    val dir = "/root/testdata/sf0.001"
    val ev = EventStream.readEvents(spark, eventsDir)
    val joined = EventStream.intervalJoin(
      ev.filter($"event_type" === "view"),
      ev.filter($"event_type" === "click"),
      "user_id", maxGap = "30 minutes")
    val q = EventStream.runToMemory(
      joined.select($"l_event_id", $"r_event_id"), "ssjoin")
    q.stop()
    val got = spark.table("ssjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch0 = graft.Tables.events(spark, dir)
      .withColumn("event_ts", timestamp_micros(expr("ts DIV 1000")))
    val l = batch0.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("l_event_id"), $"event_ts".as("l_ts"))
    val r = batch0.filter($"event_type" === "click")
      .select($"user_id".as("rk"), $"event_id".as("r_event_id"), $"event_ts".as("r_ts"))
    val batch = l.join(r,
        $"user_id" === $"rk" && $"r_ts" >= $"l_ts" &&
          $"r_ts" <= $"l_ts" + expr("INTERVAL 30 minutes"))
      .select($"l_event_id", $"r_event_id")
      .collect().map(rr => (rr.getLong(0), rr.getLong(1))).toSet
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("streaming KMV distinct sketch equals the batch sketch (mergeable state)") {
    // the sketch's merge-order independence is exactly what a
    // streaming aggregation needs: the state-store buffer must land on
    // the same k-min set as one-shot batch, whatever the micro-batch
    // slicing
    import graft.ops.Sketches
    import graft.functions.SketchFunctions
    val dir = "/root/testdata/sf0.001"
    val h = Sketches.h60(concat_ws("|", lit("skmv"), $"user_id".cast("string")))
    val agg = EventStream.readEvents(spark, eventsDir)
      .groupBy($"event_type")
      .agg(SketchFunctions.kmvMins(h, 64).as("mins"))
    val q = EventStream.runToMemory(agg, "kmv_stream", outputMode = "complete")
    q.stop()
    val got = spark.table("kmv_stream")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    val batch = graft.Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(SketchFunctions.kmvMins(h, 64).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("streaming HLL registers equal the batch registers (idempotent max-merge state)") {
    import graft.ops.Sketches
    import graft.functions.SketchFunctions
    val dir = "/root/testdata/sf0.001"
    val h = Sketches.h60(concat_ws("|", lit("shll"), $"user_id".cast("string")))
    val agg = EventStream.readEvents(spark, eventsDir)
      .groupBy($"event_type")
      .agg(SketchFunctions.hllRegisters(h, 8).as("regs"))
    val q = EventStream.runToMemory(agg, "hll_stream", outputMode = "complete")
    q.stop()
    val got = spark.table("hll_stream")
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    val batch = graft.Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(SketchFunctions.hllRegisters(h, 8).as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("readEvents starts on an empty ingest directory (schema fallback)") {
    // a streaming ingest dir normally exists BEFORE the first file
    // lands; schema inference from footers must fall back, not refuse
    val dir = Files.createTempDirectory("events_empty").toString
    val q = EventStream.runToMemory(
      EventStream.readEvents(spark, dir).select($"event_id"), "empty_stream")
    q.stop()
    assert(spark.table("empty_stream").count() == 0L)
  }

  test("readEvents rethrows on a nonexistent path and on corrupt footers") {
    // ONLY the empty-ingest-dir case gets the schema fallback — a
    // missing path or an unreadable footer silently falling back would
    // start the stream on the wrong generation's schema
    intercept[org.apache.spark.sql.AnalysisException] {
      EventStream.readEvents(spark, "/tmp/definitely/does/not/exist")
    }
    val dir = Files.createTempDirectory("events_corrupt")
    Files.write(dir.resolve("bad.parquet"), "not a parquet file".getBytes)
    intercept[Exception] {
      EventStream.readEvents(spark, dir.toString)
    }
  }

  test("empty-ingest probe is recursive with Spark's hidden-path rule (partitioned ingest is NOT empty)") {
    // round-9 advisory: a dir whose parquet lives only in partition
    // SUBDIRECTORIES was misclassified as empty by the top-level-only
    // probe, so a real spark.read failure (mixed-generation footers)
    // silently got the fallback schema. The classification itself:
    val empty = Files.createTempDirectory("probe_empty").toString
    assert(!EventStream.ingestDirHasFooters(spark, empty))
    // parquet under a key=value partition dir → NOT empty (the fix)
    val part = Files.createTempDirectory("probe_part")
    Files.createDirectories(part.resolve("date=1"))
    Files.write(part.resolve("date=1/x.parquet"), Array[Byte](1))
    assert(EventStream.ingestDirHasFooters(spark, part.toString))
    // parquet only under hidden segments (staging/committer temp) →
    // still empty, same rule Spark's own file index applies
    val hid = Files.createTempDirectory("probe_hidden")
    Files.createDirectories(hid.resolve(".staging"))
    Files.write(hid.resolve(".staging/a.parquet"), Array[Byte](1))
    Files.createDirectories(hid.resolve("_temporary"))
    Files.write(hid.resolve("_temporary/b.parquet"), Array[Byte](1))
    assert(!EventStream.ingestDirHasFooters(spark, hid.toString))
    // top-level parquet unchanged
    val top = Files.createTempDirectory("probe_top")
    Files.write(top.resolve("c.parquet"), Array[Byte](1))
    assert(EventStream.ingestDirHasFooters(spark, top.toString))
  }

  test("streaming Count-Min sketch equals the batch sketch (commutative counters)") {
    // counter addition is commutative — the property that makes the
    // CMS artifact merge-order independent also makes the SAME
    // relational build (explode → groupBy count) a valid streaming
    // aggregation: any micro-batch slicing lands on identical counters
    import graft.ops.Sketches
    val dir = "/root/testdata/sf0.001"
    val stream = Sketches.cmsBuild(
      EventStream.readEvents(spark, eventsDir), "user_id", depth = 3, width = 64)
    val q = EventStream.runToMemory(stream, "cms_stream", outputMode = "complete")
    q.stop()
    val got = spark.table("cms_stream")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sketches.cmsBuild(
        graft.Tables.events(spark, dir), "user_id", depth = 3, width = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("streaming priority-sample aggregate equals the batch aggregate") {
    // sample-as-you-ingest: the top-k-by-priority buffer merges across
    // micro-batches to the same set as one-shot batch
    import graft.ops.Sketches
    import graft.functions.SketchFunctions
    val dir = "/root/testdata/sf0.001"
    def pri = $"value".cast("double") /
      ((Sketches.h60(concat_ws("|", lit("sps|"), $"event_id".cast("string")))
        .cast("double") + lit(0.5)) / lit(Sketches.TwoPow60))
    val agg = EventStream.readEvents(spark, eventsDir)
      .filter($"value".isNotNull && $"value" > 0)
      .groupBy($"event_type")
      .agg(SketchFunctions.topKByPriority(pri, $"event_id", $"value".cast("double"), 32).as("top"))
    val q = EventStream.runToMemory(agg, "ps_stream", outputMode = "complete")
    q.stop()
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getLong(1))).toList).toMap
    val got = toMap(spark.table("ps_stream").collect())
    val batch = toMap(graft.Tables.events(spark, dir)
      .filter($"value".isNotNull && $"value" > 0)
      .groupBy($"event_type")
      .agg(SketchFunctions.topKByPriority(pri, $"event_id", $"value".cast("double"), 32).as("top"))
      .collect())
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("streaming curation gates+dedup equal the batch stages on the same docs") {
    // stage a small documents slice as a streaming source dir
    val dir = Files.createTempDirectory("docs_stream")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    docs.write.mode("overwrite").parquet(dir.toString)
    val cfg = graft.pipeline.TrainingData.CurationConfig(
      minQuality = 0.1, langs = Set("en", "de", "fr", "es", "zh"), minTokens = 3)
    // ingest time must sit ABOVE the stream's watermark —
    // dropDuplicatesWithinWatermark treats at-or-below-watermark rows
    // as late and drops them (epoch-0 timestamps emit nothing)
    val stream = spark.readStream
      .schema(docs.schema)
      .parquet(dir.toString)
      .withColumn("ingest_ts", current_timestamp())
    val q = EventStream.runToMemory(
      graft.streaming.DocStream.curateStream(stream, "doc_id", "text", "ingest_ts", cfg),
      "doc_curate", outputMode = "append")
    q.stop()
    val got = spark.table("doc_curate").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch reference: annotate -> gates -> exact dedup (lowest id per
    // fingerprint). Streaming keeps the FIRST seen per fingerprint,
    // which within one micro-batch is nondeterministic — compare the
    // kept fingerprint SET, which must be identical.
    val ann = graft.pipeline.TrainingData.annotate(docs, "doc_id", "text")
      .filter(col("quality") >= cfg.minQuality &&
        col("lang_pred").isin(cfg.langs.toSeq: _*) && col("n_tokens") >= cfg.minTokens)
    val batchFps = ann.select("fingerprint").distinct()
      .collect().map(_.getString(0)).toSet
    val gotFps = spark.table("doc_curate").select("fingerprint")
      .collect().map(_.getString(0)).toSet
    assert(got.nonEmpty)
    assert(gotFps == batchFps) // one survivor per gated fingerprint
    assert(spark.table("doc_curate").count() == batchFps.size)
  }

  test("streaming curation sustains a sane ingest rate and bounds dedup state to gated fingerprints") {
    // the rate assertion behind the BENCH_NOTES cycle measurement
    // (~3.2k docs/s at sf1 on a contended host, BENCH_NOTES "Round-9:
    // streaming ingest→compaction cycle measured at sf1").
    // The floor here is deliberately 100× under that — it exists to
    // catch a regression to per-batch quadratic work or per-row
    // driver round-trips, not to benchmark the CI host.
    val dir = Files.createTempDirectory("docs_rate")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(400)
    docs.write.mode("overwrite").parquet(dir.toString)
    val cfg = graft.pipeline.TrainingData.CurationConfig(
      minQuality = 0.1, langs = Set("en", "de", "fr", "es", "zh"), minTokens = 3)
    val stream = spark.readStream.schema(docs.schema).parquet(dir.toString)
      .withColumn("ingest_ts", current_timestamp())
    val t0 = System.nanoTime()
    val q = EventStream.runToMemory(
      graft.streaming.DocStream.curateStream(stream, "doc_id", "text", "ingest_ts", cfg),
      "doc_rate", outputMode = "append")
    val ingestSec = (System.nanoTime() - t0) / 1e9
    // dedup state = exactly the gated fingerprints inside the
    // watermark horizon — the stream's memory bound
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    q.stop()
    val kept = spark.table("doc_rate").count()
    assert(stateRows == kept, s"state $stateRows != kept $kept")
    val rate = 400.0 / ingestSec
    assert(rate > 30.0, f"ingest rate $rate%.1f docs/s — quadratic regression?")
  }

  test("stream ingest + batch near-dup compaction ≡ one-shot batch curation") {
    // the production split: the stream gates + exact-dedups within the
    // watermark; the periodic batch compaction (TrainingData.curateFull
    // over the streamed-in table) owns near-dup dedup. Its result must
    // match running curateFull over the raw fixture in one shot.
    //
    // Fixture design: exact-dup groups are KEPT DISJOINT from near-dup
    // clusters — the stream keeps the first-seen representative of an
    // exact group, batch the min-id one; same CONTENT, possibly a
    // different id, so a near-dup pair straddling an exact group could
    // legitimately resolve differently by id order. Content-level
    // equivalence is the contract; ids are asserted where they are
    // deterministic.
    def base(i: Int) =
      s"the quick brown fox u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f jumps over the lazy dog today"
    val bases = (1 to 20).map(i => (i.toLong, base(i)))
    // near-dup partners of bases 1..8: one distinguishing token changed
    val partners = (1 to 8).map(i => (20L + i, base(i).replace(s"u${i}f", s"v${i}f")))
    // exact copies of bases 15..18 (no near-dup partners)
    val copies = (15 to 18).map(i => (100L + i, base(i)))
    val fixture = (bases ++ partners ++ copies).toDF("doc_id", "text")
    val cfg = graft.pipeline.TrainingData.CurationConfig(
      minQuality = 0.05, langs = Set("en"), minTokens = 3)

    val dir = Files.createTempDirectory("docs_compact")
    fixture.write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(fixture.schema).parquet(dir.toString)
      .withColumn("ingest_ts", current_timestamp())
    val q = EventStream.runToMemory(
      graft.streaming.DocStream.curateStream(stream, "doc_id", "text", "ingest_ts", cfg),
      "doc_ingested", outputMode = "append")
    q.stop()
    val ingested = spark.table("doc_ingested").select($"doc_id", $"text")

    val compacted = graft.pipeline.TrainingData.curateFull(ingested, "doc_id", "text", cfg)
    val oneShot = graft.pipeline.TrainingData.curateFull(fixture, "doc_id", "text", cfg)
    def fps(df: org.apache.spark.sql.DataFrame) =
      df.select("fingerprint").collect().map(_.getString(0)).toSet
    assert(fps(compacted.kept) == fps(oneShot.kept))
    assert(compacted.kept.count() == oneShot.kept.count())
    // the near-dup stage must have dropped the same CONTENT both ways
    def removedTexts(removed: org.apache.spark.sql.DataFrame,
        corpus: org.apache.spark.sql.DataFrame) =
      removed.join(corpus, "doc_id").select("text")
        .collect().map(_.getString(0)).toSet
    assert(removedTexts(compacted.nearDupRemoved, ingested)
      == removedTexts(oneShot.nearDupRemoved, fixture))
    assert(removedTexts(oneShot.nearDupRemoved, fixture).nonEmpty,
      "fixture must exercise the near-dup stage")
    // outside exact-dup groups ids are deterministic: every kept id that
    // is not an exact-group member must agree exactly
    val dupIds = Set(15L, 16L, 17L, 18L, 115L, 116L, 117L, 118L)
    def keptIds(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds(compacted.kept) -- dupIds == keptIds(oneShot.kept) -- dupIds)
  }

  test("3-cycle ingest/compaction: checkpointed stream restarts + prefix one-shot equivalence") {
    // the production loop at scale: the stream ingests (gates +
    // watermark-bounded exact dedup, state carried across restarts via
    // the checkpoint), and a periodic batch compaction derives the
    // near-dup-free view over the WHOLE streamed-in table. After every
    // cycle k, that view must equal one-shot curateFull over the raw
    // prefix — including exact copies and near-dup partners that
    // arrive cycles after their originals (the watermark-state ×
    // periodic-LSH interaction the one-cycle test cannot see).
    // 40-token docs: a 1-token edit gives true shingle-Jaccard ≈ 35/41
    // ≈ 0.85 — safely above the 0.7 gate even under 32-hash minhash
    // estimation noise (the 21-token docs of the one-cycle test sit at
    // ≈0.73, inside the noise band, fine there because that test only
    // asserts SOME pair fires)
    def base(i: Int) =
      s"the quick brown fox u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f jumps over " +
        "the lazy dog today and then it ran away into the green forest near the " +
        "old river bank where tall trees lean over the cold clear water"
    // cycle 1: originals 1..12
    val c1 = (1 to 12).map(i => (i.toLong, base(i)))
    // cycle 2: near-dup partners of 1..4 (one token changed), an EXACT
    // copy of doc 7 (higher id — both paths keep the original), fresh 13..14
    val c2 = (1 to 4).map(i => (100L + i, base(i).replace(s"u${i}f", s"v${i}f"))) ++
      Seq((107L, base(7))) ++ (13 to 14).map(i => (i.toLong, base(i)))
    // cycle 3: a second-hop near-dup (chain: 1 ~ 101 ~ 201), partners of
    // cycle-2's OWN docs (13..14), and exact copies of 2 and 101 —
    // copies straddling two cycle boundaries
    val c3 = Seq((201L, base(1).replace("u1f", "v1f").replace("u1e", "w1e"))) ++
      (13 to 14).map(i => (110L + i, base(i).replace(s"u${i}f", s"v${i}f"))) ++
      Seq((202L, base(2)), (203L, base(1).replace("u1f", "v1f")))
    val cfg = graft.pipeline.TrainingData.CurationConfig(
      minQuality = 0.05, langs = Set("en"), minTokens = 3)

    val srcDir = Files.createTempDirectory("docs_mc_src").toString
    val outDir = Files.createTempDirectory("docs_mc_out").toString + "/ingested"
    val ckpt = Files.createTempDirectory("docs_mc_ck").toString
    var rawSoFar = Seq.empty[(Long, String)]
    val exactCopyIds = Set(107L, 202L, 203L)

    for ((batch, k) <- Seq(c1, c2, c3).zipWithIndex) {
      batch.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      rawSoFar ++= batch
      val stream = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
        .parquet(srcDir)
        .withColumn("ingest_ts", current_timestamp())
      val q = graft.streaming.DocStream
        .curateStream(stream, "doc_id", "text", "ingest_ts", cfg)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      val ingested = spark.read.parquet(outDir).select($"doc_id", $"text")
      // cross-cycle exact copies never reach the table: checkpointed
      // dedup state recognizes cycle-1 fingerprints in cycle 2 and 3
      assert(ingested.filter($"doc_id".isin(exactCopyIds.toSeq: _*)).isEmpty,
        s"cycle $k: stream must drop exact copies across restarts")
      val compacted = graft.pipeline.TrainingData.curateFull(ingested, "doc_id", "text", cfg)
      val oneShot = graft.pipeline.TrainingData
        .curateFull(rawSoFar.toDF("doc_id", "text"), "doc_id", "text", cfg)
      def keptIds(c: graft.pipeline.TrainingData.Curated) =
        c.kept.select("doc_id").collect().map(_.getLong(0)).toSet
      // copies are higher-id than their originals, so batch exact-dedup
      // picks the same representatives the stream kept → ids (not just
      // content) must agree at every cycle
      assert(keptIds(compacted) == keptIds(oneShot), s"cycle $k kept-id divergence")
      def removedIds(c: graft.pipeline.TrainingData.Curated) =
        c.nearDupRemoved.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(removedIds(compacted) == removedIds(oneShot) -- exactCopyIds,
        s"cycle $k near-dup set divergence")
    }
    // the fixture must actually exercise the straddling cases
    val finalOneShot = graft.pipeline.TrainingData
      .curateFull(rawSoFar.toDF("doc_id", "text"), "doc_id", "text", cfg)
    val removed = finalOneShot.nearDupRemoved
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Set(101L, 102L, 103L, 104L, 123L, 124L).subsetOf(removed),
      s"cross-cycle near-dup partners must be dropped, got $removed")
    assert(removed.contains(201L),
      s"second-hop chain member must be dropped, got $removed")
  }

  test("3-cycle restart under the adaptive CompactionDriver: every fired compaction ≡ one-shot over the prefix") {
    // the manual 3-cycle test's guarantees, but with the batch
    // compaction triggered by the PRODUCTION hook
    // (graft.streaming.CompactionDriver.maybeCompact) instead of the
    // test calling curateFull itself. The injected clock ticks 1 ms
    // per read and jumps 2 h before each cycle's hook, so the
    // scheduler's adaptive period (≤ maxPeriodSec) has always elapsed
    // — all three compactions fire deterministically — while a
    // no-time-elapsed call afterwards must NOT fire.
    def base(i: Int) =
      s"the quick brown fox u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f jumps over " +
        "the lazy dog today and then it ran away into the green forest near the " +
        "old river bank where tall trees lean over the cold clear water"
    val c1 = (1 to 12).map(i => (i.toLong, base(i)))
    val c2 = (1 to 4).map(i => (100L + i, base(i).replace(s"u${i}f", s"v${i}f"))) ++
      Seq((107L, base(7))) ++ (13 to 14).map(i => (i.toLong, base(i)))
    val c3 = Seq((201L, base(1).replace("u1f", "v1f").replace("u1e", "w1e"))) ++
      (13 to 14).map(i => (110L + i, base(i).replace(s"u${i}f", s"v${i}f"))) ++
      Seq((202L, base(2)), (203L, base(1).replace("u1f", "v1f")))
    val cfg = graft.pipeline.TrainingData.CurationConfig(
      minQuality = 0.05, langs = Set("en"), minTokens = 3)

    val srcDir = Files.createTempDirectory("docs_cd_src").toString
    val outDir = Files.createTempDirectory("docs_cd_out").toString + "/ingested"
    val ckpt = Files.createTempDirectory("docs_cd_ck").toString
    var fakeNanos = 0L
    def tick(): Long = { fakeNanos += 1000000L; fakeNanos } // 1 ms per read
    val driver = new graft.streaming.CompactionDriver(
      spark, outDir, "doc_id", "text", cfg,
      new graft.streaming.CompactionScheduler(
        targetUtilization = 0.5, minPeriodSec = 1.0, maxPeriodSec = 3600.0),
      () => tick())
    var rawSoFar = Seq.empty[(Long, String)]
    val exactCopyIds = Set(107L, 202L, 203L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    for ((batch, k) <- Seq(c1, c2, c3).zipWithIndex) {
      batch.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      rawSoFar ++= batch
      val stream = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
        .parquet(srcDir)
        .withColumn("ingest_ts", current_timestamp())
      val q = graft.streaming.DocStream
        .curateStream(stream, "doc_id", "text", "ingest_ts", cfg)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      fakeNanos += 2L * 3600L * 1000000000L // 2 h pass → period elapsed
      val compacted = driver.maybeCompact()
      assert(compacted.nonEmpty, s"cycle $k: driver must fire after the period elapsed")
      val oneShot = graft.pipeline.TrainingData
        .curateFull(rawSoFar.toDF("doc_id", "text"), "doc_id", "text", cfg)
      assert(ids(compacted.get.kept) == ids(oneShot.kept),
        s"cycle $k kept-id divergence under the driver")
      assert(ids(compacted.get.nearDupRemoved) ==
        ids(oneShot.nearDupRemoved) -- exactCopyIds,
        s"cycle $k near-dup set divergence under the driver")
    }
    assert(driver.scheduler.observations == 3)
    // corpus sizes recorded per compaction grow monotonically
    assert(driver.compactions.map(_._1) == driver.compactions.map(_._1).sorted)
    assert(driver.compactions.map(_._1).distinct.size == 3)
    // milliseconds later (period not elapsed): the hook must not fire
    assert(driver.maybeCompact().isEmpty,
      "driver fired again with no elapsed period")
  }

  test("repartitionBySize bounds partition byte-skew under a heavy-tail payload") {
    import org.apache.spark.sql.functions.spark_partition_id
    // 400 small rows (~100 B) + 8 jumbo rows (~50 KB): hash-by-id alone
    // can stack several jumbos in one partition; the two-tier balancer
    // must spread them round-robin by size rank
    val small = (1L to 400L).map(i => (i, "s" * 100))
    val jumbo = (1001L to 1008L).map(i => (i, "J" * 50000))
    val media = Multimodal.attachBinary(
      (small ++ jumbo).toDF("doc_id", "text"), "doc_id", "text")
    val target = 8
    val out = Multimodal.repartitionBySize(media, target)
    assert(out.columns.toSeq == media.columns.toSeq) // helper cols dropped
    val byPart = out.select(spark_partition_id().as("p"), length($"media").as("b"))
      .groupBy("p").sum("b").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = 400L * 100 + 8L * 50000
    val slice = total / target + 1
    val maxRow = 50000L
    // exact byte-slice contract: every partition holds one contiguous
    // byte slice of totalBytes/target, ± the one row straddling its
    // start boundary
    assert(byPart.values.max <= slice + maxRow, byPart.toString)
    assert(out.rdd.getNumPartitions == target)
    // rows survive intact
    assert(out.count() == 408)
  }

  test("multimodal decode is deterministic and batched") {
    val docs = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.attachBinary(docs, "doc_id", "text")
    val f1 = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(spark,
      Multimodal.repartitionBySize(media, 3)).collect().sortBy(_.media_id)
    assert(f1.map(_.content_hash).toSeq == f2.map(_.content_hash).toSeq)
    assert(f1.head.n_bytes == 11)
    assert(f1.head.features.length == 8)
    assert(f1(1).features.forall(_ == 0.0)) // empty payload
  }

  test("null media blobs decode to empty-blob features, not NPE") {
    // null ≡ empty contract end-to-end: the null row must survive both
    // the byte-weighted repartition (0-byte accounting) and the decode
    // stage (stub's n==0 zero features)
    val media = Seq((1L, "payload"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val attached = Multimodal.attachBinary(media, "doc_id", "text")
    val f = Multimodal.decodeFeatures(
      spark, Multimodal.repartitionBySize(attached, 2)).collect().sortBy(_.media_id)
    assert(f.length == 2)
    assert(f(1).n_bytes == 0L)
    assert(f(1).features.forall(_ == 0.0))
    assert(f(1).content_hash == graft.multimodal.DecodeStub.contentHash(Array.emptyByteArray))
  }

  test("sampleFrames explodes deterministic frame indices") {
    val docs = Seq((1L, "x" * 200)).toDF("doc_id", "text")
    val out = Multimodal.sampleFrames(Multimodal.attachBinary(docs, "doc_id", "text"))
    assert(out.count() == 3) // floor(200/64)=3 frames
    assert(out.agg(max(col("frame_offset"))).head().getInt(0) == 128)
  }

  test("CompactionScheduler: bootstrap, measured-period growth, W/P target, clamps") {
    import graft.streaming.CompactionScheduler
    val s = new CompactionScheduler(targetUtilization = 0.5,
      minPeriodSec = 10.0, maxPeriodSec = 1000.0)
    // bootstrap: no measurement → compact immediately, predict 0
    assert(s.observations == 0 && s.shouldCompact(0.0, 1000L))
    assert(s.predictWallSec(1000L) == 0.0)
    // one observation: proportional model. 1M rows took 20s → period
    // 20/0.5 = 40s; at 2M rows predicted 40s → period 80s
    s.record(1000000L, 20.0)
    assert(s.nextPeriodSec(1000000L) == 40.0)
    assert(s.predictWallSec(2000000L) == 40.0)
    assert(s.nextPeriodSec(2000000L) == 80.0)
    assert(!s.shouldCompact(39.0, 1000000L) && s.shouldCompact(40.0, 1000000L))
    // clamps: tiny corpus → minPeriod; huge corpus → maxPeriod
    assert(s.nextPeriodSec(1L) == 10.0)
    assert(s.nextPeriodSec(100000000000L) == 1000.0)
    // two observations: affine model absorbs the fixed floor.
    // (1M, 20s), (2M, 30s) → slope 1e-5 s/row, intercept 10s → at 4M
    // predicted 50s, period 100s
    s.record(2000000L, 30.0)
    assert(math.abs(s.predictWallSec(4000000L) - 50.0) < 1e-9)
    assert(math.abs(s.nextPeriodSec(4000000L) - 100.0) < 1e-9)
    // sustainability: W/P never exceeds the target under the model
    assert(s.predictWallSec(4000000L) / s.nextPeriodSec(4000000L) <= 0.5 + 1e-9)
    // prediction is floored by measured walls: a noisy shrinking wall
    // cannot talk the period below evidence. (3M, 15s) gives a negative
    // slope (clamped flat); prediction at 3M+ still ≥ the 30s measured
    // at 2M
    s.record(3000000L, 15.0)
    assert(s.predictWallSec(3000000L) >= 30.0)
    assert(s.predictWallSec(10000000L) >= 30.0)
    // failed/empty compactions are not evidence
    val before = s.observations
    s.record(0L, 5.0); s.record(100L, 0.0)
    assert(s.observations == before)
  }
}
