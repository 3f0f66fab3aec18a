package graft.io

import graft.SparkSpec
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

  private def writeSites(path: java.nio.file.Path, values: String*): Unit =
    Files.writeString(path, ("id\tScore\n" +: values.zipWithIndex.map { case (v, i) =>
      s"${i + 1}\t$v\n" }).mkString)

  private def scoreType(df: org.apache.spark.sql.DataFrame) = df.schema("Score").dataType.typeName

  test("readMaxQuant memoises the inferred schema: an unchanged file re-reads with no job") {
    val f = Files.createTempDirectory("mqmemo").resolve("sites.txt")
    writeSites(f, "1", "2")
    assert(jobsOf(MaxQuant.readMaxQuant(spark, f.toString)) > 0)
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = MaxQuant.readMaxQuant(spark, f.toString) } == 0)
    assert(scoreType(df) == "integer" && df.count() == 2)
  }

  test("readMaxQuant re-infers a rewritten file: new length, or same length and new mtime") {
    val f = Files.createTempDirectory("mqmemo").resolve("sites.txt")
    writeSites(f, "1", "2")
    assert(scoreType(MaxQuant.readMaxQuant(spark, f.toString)) == "integer")
    writeSites(f, "1.5", "2")
    assert(scoreType(MaxQuant.readMaxQuant(spark, f.toString)) == "double")
    // same bytes count, new content: only the modification time differs
    val mtime = Files.getLastModifiedTime(f).toMillis
    writeSites(f, "x.5", "2")
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(mtime + 2000))
    assert(scoreType(MaxQuant.readMaxQuant(spark, f.toString)) == "string")
  }

  test("readMaxQuant re-infers under a changed SQL conf") {
    val f = Files.createTempDirectory("mqmemo").resolve("sites.txt")
    writeSites(f, "1", "2")
    MaxQuant.readMaxQuant(spark, f.toString)
    val conf = "spark.sql.caseSensitive"
    val saved = spark.conf.getAll.get(conf)
    spark.conf.set(conf, (!spark.sessionState.conf.caseSensitiveAnalysis).toString)
    try assert(jobsOf(MaxQuant.readMaxQuant(spark, f.toString)) > 0)
    finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    assert(jobsOf(MaxQuant.readMaxQuant(spark, f.toString)) == 0)
  }

  test("readMaxQuant: a glob infers on every read; a directory keys on its children") {
    val dir = Files.createTempDirectory("mqmemo")
    writeSites(dir.resolve("a.txt"), "1", "2")
    val glob = s"$dir/*.txt"
    assert(scoreType(MaxQuant.readMaxQuant(spark, glob)) == "integer")
    assert(jobsOf(MaxQuant.readMaxQuant(spark, glob)) > 0)
    val plain = spark.read.option("sep", "\t").option("header", "true")
      .option("inferSchema", "true").csv(dir.toString).schema
    assert(MaxQuant.readMaxQuant(spark, dir.toString).schema == plain)
    assert(jobsOf(MaxQuant.readMaxQuant(spark, dir.toString)) == 0)
    // a new part file is a miss: its values widen the column
    writeSites(dir.resolve("b.txt"), "2.5")
    assert(scoreType(MaxQuant.readMaxQuant(spark, dir.toString)) == "double")
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
}
