package graft

import graft.ops.{Filters, Impute, Normalize, Reshape}
import graft.stats.QValues
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.2.3) using raw ScalaCheck
  * generators sampled under fixed seeds (the scalatest bridge artifact
  * is not in the offline cache). Each case runs Spark jobs, so cases
  * are few and frames small. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val rowGen: Gen[List[(Int, String, Option[Double])]] =
    Gen.listOfN(25, for {
      id <- Gen.choose(1, 8)
      flag <- Gen.oneOf("A", "B", "C")
      v <- Gen.option(Gen.choose(-50.0, 50.0))
    } yield (id, flag, v))

  test("property: filters are conservative (filtered ⊆ input)") {
    samples(rowGen, 5).foreach { rows =>
      val df = rows.toDF("id", "flag", "value")
      val out = Filters.removeRowsMatching(df, "flag", "A")
      assert(out.count() <= df.count())
      assert(out.except(df).count() == 0) // no invented rows
    }
  }

  test("property: expandSideTable row count = rows × present multiplicities; ids bijective") {
    val gen = for {
      vs <- Gen.nonEmptyListOf(Gen.choose(0.0, 9.0))
      mults <- Gen.choose(1, 3)
    } yield (vs.take(10), mults)
    samples(gen, 5).foreach { case (vs, mults) =>
      val suffixes = (1 to mults).map(k => s"___$k")
      val cols = suffixes.map(s => s"Intensity X$s")
      val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v0")
      val wide = cols.foldLeft(df) { (acc, c) => acc.withColumn(c, col("v0")) }.drop("v0")
      val out = Reshape.expandSideTable(wide, suffixes)
      assert(out.count() == vs.length.toLong * mults)
      // id___k values are unique (bijection input×suffix → output)
      assert(out.select("id").distinct().count() == vs.length.toLong * mults)
    }
  }

  test("property: q-values are monotone in p, >= p (pi0=1), <= 1") {
    samples(Gen.listOfN(40, Gen.choose(0.0, 1.0)), 5).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (i, p) }.toDF("id", "p")
      val out = QValues.qvalues(df, "p").select("p", "q")
        .as[(Double, Double)].collect().sortBy(_._1)
      out.foreach { case (p, q) =>
        assert(q >= p - 1e-12 && q <= 1.0 + 1e-12)
      }
      out.sliding(2).foreach {
        case Array((_, q1), (_, q2)) => assert(q2 >= q1 - 1e-12)
        case _ =>
      }
    }
  }

  test("property: median-centered samples have median 0") {
    samples(rowGen, 5).foreach { rows =>
      val df = rows.toDF("id", "sample", "value")
      val centered = Normalize.subtractColumnMedian(df, "sample", "value")
      val meds = centered.filter(col("value").isNotNull)
        .groupBy(col("sample")).agg(expr("median(value)").as("m"))
        .as[(String, Double)].collect()
      meds.foreach { case (_, m) => assert(math.abs(m) < 1e-9) }
    }
  }

  test("property: imputation preserves observed cells exactly") {
    samples(rowGen, 5).foreach { rows =>
      val df = rows.toDF("id", "sample", "value")
      val out = Impute.gaussian(df, "sample", "value", seed = 1L)
        .select(col("id"), col("sample"), col("value"), col("was_imputed"))
        .collect()
      val observed = rows.collect { case (id, s, Some(v)) => (id, s, v) }
      val outTriples = out.filter(!_.getBoolean(3))
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      assert(outTriples.sorted.toSeq == observed.sorted.toSeq)
    }
  }

  test("property: PLS imputation preserves observed cells; imputed slots all fill") {
    samples(rowGen, 3).foreach { rows =>
      // dedupe (id, sample) — the long form assumes unique cells
      val cells = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val df = cells.toDF("id", "sample", "value")
      val out = Impute.pls(spark, df, "id", "sample", "value").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (Option(r.getAs[java.lang.Double]("value")).map(_.toDouble), r.getBoolean(3)))
        .toMap
      cells.foreach { case (id, s, v) =>
        val (ov, flag) = out((id.toString, s))
        v match {
          case Some(x) => assert(ov.contains(x) && !flag) // observed exact
          case None => // missing: imputed (flag) unless the feature had no observations
            assert(flag == ov.nonEmpty)
        }
      }
    }
  }

  test("property: ntile chunk sizes differ by at most one and cover all non-null rows") {
    samples(rowGen, 3).foreach { rows =>
      val df = rows.toDF("id", "flag", "value")
      val nonNull = rows.count(_._3.nonEmpty)
      val out = graft.ops.DistributedRank.ntile(df, "value", Seq("id"), 4)
        .groupBy(col("chunk")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(out.values.sum == nonNull)
      if (nonNull >= 4) {
        assert(out.values.max - out.values.min <= 1)
        assert(out.keySet == (1 to 4).toSet)
      }
    }
  }

  test("property: venn3-style membership counts obey inclusion bounds") {
    // the one-pass membership formulation must satisfy set algebra:
    // |A∩B| <= min(|A|,|B|), |A∩B∩C| <= every pairwise intersection
    samples(rowGen, 3).foreach { rows =>
      val keys = rows.map(_._1)
      val a = keys.filter(_ % 2 == 0).toDF("k").select(col("k"), lit(1).as("in_a"), lit(0).as("in_b"), lit(0).as("in_c"))
      val b = keys.filter(_ % 3 == 0).toDF("k").select(col("k"), lit(0).as("in_a"), lit(1).as("in_b"), lit(0).as("in_c"))
      val c = keys.filter(_ > 3).toDF("k").select(col("k"), lit(0).as("in_a"), lit(0).as("in_b"), lit(1).as("in_c"))
      val r = a.unionByName(b).unionByName(c)
        .groupBy(col("k"))
        .agg(max(col("in_a")).as("ia"), max(col("in_b")).as("ib"), max(col("in_c")).as("ic"))
        .agg(sum(col("ia")).as("na"), sum(col("ib")).as("nb"), sum(col("ic")).as("nc"),
          sum(col("ia") * col("ib")).as("nab"), sum(col("ia") * col("ic")).as("nac"),
          sum(col("ib") * col("ic")).as("nbc"),
          sum(col("ia") * col("ib") * col("ic")).as("nabc"))
        .head()
      def g(i: Int) = r.getLong(i)
      assert(g(3) <= math.min(g(0), g(1))) // |A∩B| <= min
      assert(g(6) <= math.min(g(3), math.min(g(4), g(5)))) // triple <= every pair
      // ground truth
      val sa = keys.filter(_ % 2 == 0).toSet
      val sb = keys.filter(_ % 3 == 0).toSet
      val sc = keys.filter(_ > 3).toSet
      assert(g(0) == sa.size && g(3) == (sa & sb).size && g(6) == (sa & sb & sc).size)
    }
  }

  test("property: affineMod61 equals BigInt modular arithmetic; md5Top60 equals hex parse") {
    import graft.functions.TextHash
    val P = TextHash.P61
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val a = math.floorMod(rnd.nextLong(), P - 1) + 1
      val h = math.floorMod(rnd.nextLong(), 1L << 60)
      val b = math.floorMod(rnd.nextLong(), P)
      val expect = ((BigInt(a) * h + b) mod BigInt(P)).toLong
      assert(TextHash.affineMod61(a, h, b) == expect, s"a=$a h=$h b=$b")
    }
    (0 until 200).foreach { i =>
      val s0 = rnd.nextString(rnd.nextInt(20))
      val viaBytes = TextHash.md5Top60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s0))
      val viaHex = java.lang.Long.parseUnsignedLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s0.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15), 16)
      assert(viaBytes == viaHex, s"i=$i")
    }
  }

  test("property: hash-gaussian imputation and PCA scores are bit-identical across partitionings") {
    // the round-3 determinism claim: content-hash draws + exact-decimal
    // aggregation make outputs independent of partition layout
    import graft.ops.Impute
    import graft.ml.Pca
    val base = (1 to 300).map { i =>
      (i.toLong, "s" + (i % 4), if (i % 7 == 0) None else Some(i * 0.37 + (i % 4)))
    }.toDF("rid", "sample", "value")
    def imputed(parts: Int) =
      Impute.gaussian(base.repartition(parts), "sample", "value", seed = 9L)
        .select($"rid", $"sample", $"value")
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)).map(_.asInstanceOf[Double].toString))).toSet
    assert(imputed(13) == imputed(2))

    val long = (1 to 400).map { i =>
      (i.toLong, "dim" + (i % 5), i * 0.11 - (i % 3))
    }.toDF("fid", "sample", "value")
    def scores(parts: Int) = {
      val df = long.repartition(parts)
      val m = Pca.fit(df, "fid", "sample", "value", nComponents = 2)
      Pca.sampleScores(spark, df, m, "fid", "sample", "value")
        .collect().map(r => (r.getString(0), r.getDouble(1).toString, r.getDouble(2).toString)).toSet
    }
    assert(scores(11) == scores(3))
  }

  test("property: two-level exactGroupQuantiles equals the in-memory sorted-rank reference") {
    import graft.ops.Quantiles
    val gen = for {
      rows <- Gen.listOfN(120, for {
        g <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(-100.0, 100.0)
      } yield (g, v))
      qs <- Gen.nonEmptyListOf(Gen.choose(1, 100)).map(_.distinct.take(4).map(_ / 100.0))
    } yield (rows, qs)
    samples(gen, 4).foreach { case (rows, qs) =>
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "k")
      // tiny numBuckets forces multi-row buckets AND cross-bucket
      // stitching in the same case
      val out = Quantiles.exactGroupQuantiles(df, "g", "v", qs, numBuckets = 5)
        .collect().map(r => r.getString(0) ->
          qs.indices.map(i => r.getDouble(i + 1)).toList).toMap
      val ref = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
        .groupBy(_._1).map { case (g, grp) =>
          val sorted = grp.sortBy(t => (t._2, t._3)).map(_._2)
          g -> qs.map(q => sorted(math.ceil(q * sorted.length).toInt - 1)).toList
        }
      assert(out == ref)
    }
  }
}
