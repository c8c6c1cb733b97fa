package graft

import graft.ops.{Intervals, Offsets, Rle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the index-dataflow kernels (SURVEY.md §5: property
  * tests for RLE / merge round-trips). Raw ScalaCheck generators with a
  * fixed seed (scalatestplus is not on the offline classpath).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def forAll[T](g: Gen[T], n: Int = 25)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val keySeqGen: Gen[List[Int]] =
    Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 5)))

  test("RLE ranges partition the position space and reconstruct the sequence") {
    forAll(keySeqGen) { keys =>
      import spark.implicits._
      val df = keys.zipWithIndex.map { case (k, i) => (k.toLong, i.toLong) }
        .toDF("node_key", "pos")
      val ranges = Rle.ranges(df, "node_key", "pos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._2)
      // ranges tile [0, n) exactly
      assert(ranges.head._2 == 0 && ranges.last._3 == keys.length)
      ranges.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(e1 == s2)
        case _ =>
      }
      // adjacent ranges always switch keys (maximality)
      ranges.sliding(2).foreach {
        case Array((k1, _, _), (k2, _, _)) => assert(k1 != k2)
        case _ =>
      }
      // reconstruction: expanding each range reproduces the input keys
      val rebuilt = new Array[Long](keys.length)
      ranges.foreach { case (k, s, e) => (s until e).foreach(i => rebuilt(i.toInt) = k) }
      assert(rebuilt.toSeq == keys.map(_.toLong))
    }
  }

  private val intervalsGen: Gen[List[(Long, Long, Long)]] =
    Gen.chooseNum(1, 80).flatMap { n =>
      Gen.listOfN(n, for {
        k <- Gen.chooseNum(0L, 3L)
        s <- Gen.chooseNum(0L, 100L)
        len <- Gen.chooseNum(0L, 15L)
      } yield (k, s, s + len))
    }

  test("interval merge: output disjoint with gaps, same coverage; window == sorted-stream formulation") {
    forAll(intervalsGen) { ivs =>
      import spark.implicits._
      val df = ivs.toDF("k", "range_start", "range_end")
      val viaWindow = Intervals.merge(df, "k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val viaStream = Intervals.mergeSorted(df, "k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(viaWindow.toSeq == viaStream.toSeq)
      // disjoint with strict gaps per key (adjacent would have merged)
      viaWindow.groupBy(_._1).values.foreach { group =>
        group.sortBy(_._2).sliding(2).foreach {
          case Array((_, _, e1), (_, s2, _)) => assert(s2 > e1)
          case _ =>
        }
      }
      // coverage: every input point is covered, and merged bounds exist in input
      val covered = viaWindow.map { case (k, s, e) => (k, s, e) }
      ivs.foreach { case (k, s, e) =>
        assert(covered.exists { case (ck, cs, ce) => ck == k && cs <= s && e <= ce })
      }
    }
  }

  test("globalPosition assigns a gap-free permutation consistent with the sort key") {
    forAll(Gen.chooseNum(1, 200)) { n =>
      import spark.implicits._
      val df = (0 until n).map(i => ((i * 7919) % 1000, i)).toDF("a", "b")
      val pos = Offsets.globalPosition(df.repartition(5), Seq(col("a"), col("b")))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      assert(pos.map(_._3).sorted.toSeq == (0L until n).toSeq)
      assert(pos.sortBy(p => (p._1, p._2)).map(_._3).toSeq == (0L until n).toSeq)
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("globalPosition equals ROW_NUMBER on empty input, empty shuffle partitions and with AQE off") {
    import spark.implicits._
    val confs = Seq(
      Seq.empty[(String, String)],
      // 13 range partitions for at most 9 distinct keys, none coalesced away
      Seq("spark.sql.shuffle.partitions" -> "13",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
      Seq("spark.sql.shuffle.partitions" -> "13", "spark.sql.adaptive.enabled" -> "false"))
    for (conf <- confs; n <- Seq(0, 1, 40)) withConf(conf: _*) {
      val rows = (0 until n).map(i => ((i * 7) % 9, i))
      val got = Offsets.globalPosition(rows.toDF("a", "b").repartition(3), Seq(col("a"), col("b")))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      // ROW_NUMBER() OVER (ORDER BY a, b) - 1
      val rowNumber = rows.sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
      assert(got == rowNumber, s"conf $conf, $n rows")
    }
  }

  test("a plain globalPosition call leaves no persisted RDD") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i % 7, i)).toDF("a", "b")
    val ord = Seq(col("a"), col("b"))
    val forms = Seq[(String, () => DataFrame)](
      "plain" -> (() => Offsets.globalPosition(df, ord)),
      "grouped" -> (() => Offsets.globalPositionGrouped(df, "a", ord, "pos", "apos")),
      "weighted" -> (() => Offsets.globalWeightedPrefix(df, ord, "b", "cum")))
    for ((form, stamp) <- forms) {
      val before = SparkJobs.persisted(spark)
      assert(stamp().collect().length == 100, form)
      assert(SparkJobs.persisted(spark) == before, form)
    }
  }

  test("globalPositionStamped: unpersisting the second element keeps a cache on the first") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i % 7, i)).toDF("a", "b")
    val (positioned, stamped) = Offsets.globalPositionStamped(df, Seq(col("a"), col("b")), "edge_id")
    val pinned = positioned.persist()
    try {
      assert(pinned.count() == 100)
      stamped.unpersist()
      assert(pinned.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally pinned.unpersist()
  }

  test("weighted prefix sum equals the serial scan for any partitioning; weight 1 equals position") {
    import spark.implicits._
    for (parts <- Seq(1, 5, 13)) {
      val df = (0 until 400).map(i => ((i * 7919) % 1000, i, (i * 31) % 17 + 1))
        .toDF("a", "b", "w").repartition(parts)
      val got = Offsets.globalWeightedPrefix(df, Seq(col("a"), col("b")), "w", "cum")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      var acc = 0L
      got.foreach { case (_, _, w, cum) =>
        assert(cum == acc, s"parts=$parts"); acc += w
      }
      val ones = Offsets.globalWeightedPrefix(
          df.withColumn("one", lit(1L)), Seq(col("a"), col("b")), "one", "cum")
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(4))).toMap
      val pos = Offsets.globalPosition(df, Seq(col("a"), col("b")))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(3))).toMap
      assert(ones == pos)
    }
    // a null weight gives a null cum and adds nothing to later rows
    val sparse = Seq[(Int, Option[Long])]((1, Some(5L)), (2, None), (3, Some(7L)), (4, None), (5, Some(1L)))
    val cums = Offsets.globalWeightedPrefix(sparse.toDF("a", "w").repartition(3), Seq(col("a")), "w", "cum")
      .collect().map(r => r.getInt(0) -> Option(r.get(2))).sortBy(_._1).toSeq
    assert(cums == Seq(1 -> Some(0L), 2 -> None, 3 -> Some(5L), 4 -> None, 5 -> Some(12L)))
  }

  test("grouped stamp equals the serial scan on any partitioning") {
    import spark.implicits._
    // g1 holds 60 % of the rows, so it straddles most of the 13 range
    // partitions; a null group sorts first, as ord puts it
    val spread = (0 until 300).map { i =>
      val g = i % 10 match { case 3 => None; case d if d < 7 => Some("g1"); case d => Some(s"g$d") }
      (g, (i * 7919) % 1000, i)
    }
    // identical rows collapse the range bounds: the last range partition is empty
    val dups = (None, 2, 2) +: Seq.fill(5)((Some("g1"), 1, 1))
    val ord = Seq(col("grp"), col("a"), col("b"))
    for (parts <- Seq(1, 5, 13); (name, rows) <- Seq("empty" -> Nil, "dups" -> dups, "spread" -> spread))
      withConf("spark.sql.shuffle.partitions" -> "13",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val res = Offsets.globalPositionGrouped(rows.toDF("grp", "a", "b").repartition(parts),
            "grp", ord, "pos", "gpos")
          .withColumn("pid", spark_partition_id())
        val got = res.collect().map(r =>
          (Option(r.getString(0)), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getInt(5)))
        val serial = rows.sortBy(t => (t._1, t._2, t._3))
        val truth = serial.zipWithIndex.map { case ((g, a, b), i) =>
          (g, a, b, i.toLong, (i - serial.indexWhere(_._1 == g)).toLong) }
        assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)).sortBy(_._4).toSeq == truth,
          s"$name on $parts input partitions")
        val spans = got.groupBy(_._1).view.mapValues(_.map(_._6).distinct.length).toMap
        if (name == "dups") assert(got.map(_._6).distinct.length < res.rdd.getNumPartitions,
          s"$parts input partitions: no empty range partition")
        if (name == "spread") assert(spans(Some("g1")) >= 3,
          s"$parts input partitions: g1 spans ${spans(Some("g1"))} partitions")
      }
  }

  test("HLL sketch: within error bound of exact, invariant to partitioning") {
    import spark.implicits._
    import graft.functions.HllSketchAgg.hllDistinct
    import org.apache.spark.sql.functions._
    // 10k distinct keys, each duplicated a varying number of times
    val rows = (0 until 10000).flatMap(k => Seq.fill(1 + k % 3)(k.toLong))
    val df = rows.toDF("k")
    val est = df.agg(hllDistinct(col("k"), 12).as("n")).collect()(0).getLong(0)
    assert(math.abs(est - 10000.0) / 10000.0 < 0.05,
      s"estimate $est vs exact 10000 exceeds 5%")
    // max-merge is partitioning-invariant: same estimate for any layout
    val est1 = df.repartition(1).agg(hllDistinct(col("k"), 12)).collect()(0).getLong(0)
    val est17 = df.repartition(17, col("k")).agg(hllDistinct(col("k"), 12)).collect()(0).getLong(0)
    assert(est == est1 && est == est17, s"$est / $est1 / $est17")
    // small-range linear counting: tiny cardinalities are near-exact
    val small = (0 until 30).map(_.toLong).toDF("k")
      .agg(hllDistinct(col("k"), 12)).collect()(0).getLong(0)
    assert(small == 30, s"linear-counting range should be near-exact, got $small")
    // grouped: per-group sketches stay independent
    val grouped = df.withColumn("g", col("k") % 2)
      .groupBy(col("g")).agg(hllDistinct(col("k"), 12).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped.values.forall(v => math.abs(v - 5000.0) / 5000.0 < 0.05), grouped.toString)
  }

  test("KMV bottom-k: exact == serial reference, merge-invariant, estimator sane") {
    import spark.implicits._
    import graft.functions.KmvBottomKAgg.kmvBottomK
    import org.apache.spark.sql.functions._
    def h60(s: String): Long = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var h = 0L; for (i <- 0 until 7) h = (h << 8) | (b(i) & 0xffL)
      (h << 4) | ((b(7) & 0xf0L) >> 4)
    }
    val vals = (0 until 5000).map(i => s"v$i")
    val df = vals.flatMap(v => Seq(v, v)).toDF("v") // duplicates must not matter
    def sketch(parts: Int): Seq[Long] =
      df.repartition(parts).agg(kmvBottomK(col("v"), 64).as("ks"))
        .collect()(0).getSeq[Long](0)
    val s1 = sketch(1)
    // equals the serial bottom-64 of distinct hashes, ascending
    assert(s1 == vals.map(h60).distinct.sorted.take(64))
    // min-k is merge-invariant: identical under any partitioning
    assert(sketch(23) == s1)
    // estimator: (k-1)*2^60/h_k within 3/sqrt(k) ~ 37% of 5000
    val est = (BigInt(63) * BigInt(2).pow(60) / BigInt(s1.last)).toLong
    assert(math.abs(est - 5000.0) / 5000.0 < 0.4, s"est $est")
    // below k distinct: the sketch IS the distinct hash set
    val tiny = (0 until 10).map(i => s"t$i")
    val ts = tiny.toDF("v").agg(kmvBottomK(col("v"), 64)).collect()(0).getSeq[Long](0)
    assert(ts == tiny.map(h60).sorted)
  }

  test("z-order key interleaves bits exactly") {
    import spark.implicits._
    import graft.ops.ZOrder
    import org.apache.spark.sql.functions._
    def refZ(a: Int, b: Int): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1).toLong << (2 * i)
        z |= ((b >> i) & 1).toLong << (2 * i + 1)
      }
      z
    }
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(200)((rnd.nextInt(65536), rnd.nextInt(65536))) ++
      Seq((0, 0), (65535, 65535), (1, 0), (0, 1))
    val rows = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zkey(col("a"), col("b")).as("z"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) == refZ(r.getInt(0), r.getInt(1)),
        s"(${r.getInt(0)}, ${r.getInt(1)})")
    }
  }

  test("CoverageAgg equals merged-interval length for any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(500) {
      val k = rnd.nextInt(5).toLong
      val s = rnd.nextInt(200).toLong
      (k, s, s + 1 + rnd.nextInt(30))
    }
    def refCoverage(ivs: Seq[(Long, Long)]): Long = {
      val sorted = ivs.sortBy(identity)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      sorted.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
    val expect = rows.groupBy(_._1).view.mapValues(g => refCoverage(g.map(t => (t._2, t._3)))).toMap
    for (parts <- Seq(1, 4, 13)) {
      val got = rows.toDF("k", "s", "e").repartition(parts)
        .as[(Long, Long, Long)].groupByKey(_._1)
        .agg(graft.ops.Intervals.CoverageAgg.toColumn.name("len"))
        .collect().toMap
      assert(got == expect, s"parts=$parts")
    }
  }

  test("chunking equals the sliding-window reference for any chunk/stride combo") {
    import spark.implicits._
    val gen = for {
      nDocs <- Gen.chooseNum(1, 5)
      lens <- Gen.listOfN(nDocs, Gen.chooseNum(0, 150))
      chunk <- Gen.chooseNum(1, 64)
      stride <- Gen.chooseNum(1, chunk)
    } yield (lens, chunk, stride)
    forAll(gen, n = 8) { case (lens, chunk, stride) =>
      val docs = lens.zipWithIndex.map { case (len, id) =>
        (id.toLong, (1 to len).map(i => s"w$i").mkString(" "))
      }
      val expect = docs.flatMap { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        if (toks.isEmpty) Seq.empty
        else (0 until toks.length by stride).zipWithIndex.map { case (off, ci) =>
          val slice = toks.slice(off, off + chunk)
          (id, ci.toLong, slice.mkString(" "), slice.length)
        }
      }.toSet
      val got = graft.ext.TextAnalysis
        .chunkDocuments(docs.toDF("doc_id", "text"), chunk, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
        .toSet
      assert(got == expect, s"chunk=$chunk stride=$stride lens=$lens")
    }
  }

  private def mgSketch(tokens: Seq[String], k: Int, parts: Int): Map[String, Long] = {
    import spark.implicits._
    tokens.toDF("token").repartition(parts)
      .agg(graft.functions.MisraGriesAgg.misraGries(col("token"), k).as("hh"))
      .select(explode(col("hh")))
      .select(col("col.token"), col("col.est_count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("hll sketch-table rollup: merged per-group sketches equal the direct global sketch") {
    import spark.implicits._
    forAll(Gen.listOfN(400, Gen.chooseNum(0L, 5000L)), n = 8) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (i % 7, v) }.toDF("g", "k")
        .repartition(5)
      val direct = df
        .agg(graft.functions.HllSketchAgg.hllDistinct(col("k"), 10))
        .collect().head.getLong(0)
      val rollup = df.groupBy(col("g"))
        .agg(graft.functions.HllSketchAgg.hllSketch(col("k"), 10).as("sk"))
        .agg(graft.functions.HllSketchAgg.hllMerge(col("sk")))
        .collect().head.getLong(0)
      assert(rollup == direct, s"rollup $rollup != direct $direct")
    }
  }

  test("hilbert key: column form equals the scalar reference, unit-step locality") {
    import spark.implicits._
    forAll(Gen.listOfN(60, Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))),
        n = 5) { pts =>
      val got = graft.ops.Hilbert.withHkey(pts.toDF("x", "y"), col("x"), col("y"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      pts.foreach { case (x, y) =>
        assert(got((x, y)) == graft.ops.Hilbert.hkeyScalar(x, y), s"($x, $y)")
      }
    }
    // the defining property z-order lacks: consecutive indexes are
    // ADJACENT cells (manhattan distance exactly 1) — walk a stretch
    val grid = 16
    val cells = for (x <- 0 until grid; y <- 0 until grid) yield {
      // embed the 16x16 grid in the low corner of the 65536 grid: the
      // first 256 indexes of the full curve stay inside it
      (x, y, graft.ops.Hilbert.hkeyScalar(x.toLong, y.toLong))
    }
    val byIndex = cells.filter(_._3 < grid * grid).sortBy(_._3)
    assert(byIndex.size == grid * grid, "first 256 indexes fill the 16x16 corner")
    byIndex.sliding(2).foreach {
      case Seq((x1, y1, d1), (x2, y2, d2)) =>
        assert(d2 == d1 + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"curve jumps between ($x1,$y1)@$d1 and ($x2,$y2)@$d2")
      case _ => ()
    }
  }

  private def cmsCells(tokens: Seq[String], depth: Int, width: Int,
                       parts: Int): Seq[Long] = {
    import spark.implicits._
    tokens.toDF("token").repartition(parts)
      .agg(graft.functions.CountMinAgg.countMin(col("token"), depth, width).as("cells"))
      .collect().head.getSeq[Long](0)
  }

  test("count-min: deterministic under any partitioning, estimates bound exact counts") {
    forAll(Gen.listOfN(300, Gen.chooseNum(0, 40)), n = 10) { ints =>
      val toks = ints.map(v => s"tok$v")
      val (depth, width) = (4, 32)
      val single = cmsCells(toks, depth, width, 1)
      // merge is an elementwise sum → sketch identical for ANY partitioning
      for (parts <- Seq(3, 7)) {
        assert(cmsCells(toks, depth, width, parts) == single, s"parts=$parts")
      }
      // every row sums to the stream length
      for (i <- 0 until depth) {
        assert(single.slice(i * width, (i + 1) * width).sum == toks.size.toLong, s"row $i")
      }
      // point estimates: min over rows, always >= exact, and exact when
      // a token collides with nothing in some row
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      exact.foreach { case (t, c) =>
        val est = (0 until depth).map(i =>
          single(i * width + graft.functions.CountMinAgg.bucket(i, t, width))).min
        assert(est >= c, s"$t est=$est exact=$c")
      }
    }
  }

  test("misra-gries: exact counts under any partitioning when distinct <= k") {
    forAll(Gen.listOfN(200, Gen.oneOf("a", "b", "c", "d", "e")), n = 10) { toks =>
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      for (parts <- Seq(1, 3, 7)) {
        assert(mgSketch(toks, k = 8, parts) == exact, s"parts=$parts")
      }
    }
  }

  test("misra-gries: heavy hitters survive and estimates underestimate by at most n/k") {
    // 60% of the stream is one planted token, the rest a wide tail of
    // near-unique fillers — the regime the sketch exists for
    forAll(Gen.listOfN(300, Gen.chooseNum(0, 100000)), n = 10) { ints =>
      val toks = ints.zipWithIndex.map { case (v, i) =>
        if (i % 5 < 3) "HEAVY" else s"t${v}_$i"
      }
      val n = toks.size
      val k = 16
      val trueCounts = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      for (parts <- Seq(1, 4, 9)) {
        val est = mgSketch(toks, k, parts)
        // guarantee: anything with frequency > n/k is present
        trueCounts.filter(_._2 > n / k).keys.foreach { t =>
          assert(est.contains(t), s"heavy token $t missing at parts=$parts")
        }
        // estimates never exceed truth and undershoot by at most n/k
        est.foreach { case (t, e) =>
          val c = trueCounts(t)
          assert(e <= c && c - e <= n / k, s"$t est=$e true=$c parts=$parts")
        }
      }
    }
  }

  test("groupedSelect: value-at-rank equals the sorted reference for every group and rank") {
    import spark.implicits._
    val dataGen: Gen[List[(String, Long)]] = for {
      n <- Gen.chooseNum(1, 150)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c")
        v <- Gen.chooseNum(-50L, 50L) // duplicates and negatives likely
      } yield (g, v))
    } yield rows
    forAll(dataGen, n = 15) { rows =>
      val df = rows.toDF("grp", "v")
      val ks = Seq(("q1", "(n + 3) div 4"), ("med", "(n + 1) div 2"), ("max", "n"))
      val got = graft.ops.Selection.groupedSelect(df, "grp", "v", ks, bins = 8)
        .collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
      val byGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      for ((g, vs) <- byGroup; (label, kExpr) <- ks) {
        val n = vs.length.toLong
        val k = kExpr match {
          case "(n + 3) div 4" => (n + 3) / 4
          case "(n + 1) div 2" => (n + 1) / 2
          case _ => n
        }
        assert(got((g, label)) == vs((k - 1).toInt),
          s"group $g $label: expected ${vs((k - 1).toInt)} got ${got((g, label))} (n=$n)")
      }
    }
  }

  test("floor-log2 via length(bin(x)) - 1 equals the bit-position definition") {
    // the LmStats / Adamic-Adar discipline: both engines must agree on
    // "log scale" only because length(bin(x)) - 1 IS floor(log2 x)
    forAll(Gen.chooseNum(1L, Long.MaxValue), n = 200) { x =>
      import spark.implicits._
      val got = Seq(x).toDF("x")
        .select((length(bin(col("x"))) - 1).cast("long")).collect()(0).getLong(0)
      assert(got == 63 - java.lang.Long.numberOfLeadingZeros(x), s"x=$x")
    }
  }

  test("struct-min/max open/close equals sort-based first/last on random ticks") {
    val tickGen = for {
      n <- Gen.chooseNum(1, 80)
      ts <- Gen.listOfN(n, Gen.chooseNum(0L, 50L))
      v <- Gen.listOfN(n, Gen.chooseNum(-5000L, 5000L))
    } yield ts.zip(v).zipWithIndex.map { case ((t, c), i) => (t, i.toLong, c) }
    forAll(tickGen, n = 25) { ticks =>
      import spark.implicits._
      val df = ticks.map { case (t, id, c) => (0L, t, id, c) }
        .toDF("day", "ts_us", "event_id", "cents")
      val r = graft.ext.Timeseries.ohlcBars(df).collect()(0)
      val sorted = ticks.sortBy(t => (t._1, t._2))
      assert(r.getAs[Long]("open_cents") == sorted.head._3)
      assert(r.getAs[Long]("close_cents") == sorted.last._3)
      assert(r.getAs[Long]("high_cents") == ticks.map(_._3).max)
      assert(r.getAs[Long]("low_cents") == ticks.map(_._3).min)
    }
  }

  test("CUPED theta recovers the exact slope on perfectly linear panels") {
    val panelGen = for {
      n <- Gen.chooseNum(3, 40)
      slope <- Gen.chooseNum(1L, 9L)
      xs <- Gen.listOfN(n, Gen.chooseNum(1L, 2000L))
    } yield (slope, xs.zipWithIndex.map { case (x, u) => (u.toLong, x) })
    forAll(panelGen, n = 25) { case (slope, users) =>
      import spark.implicits._
      // distinct x needed for var > 0; dedupe by perturbing with index
      val rows = users.map { case (u, x) => (u, x + u * 2003L) }
      val dayUs = 86400000000L
      val ev = rows.flatMap { case (u, x) =>
        Seq((u, 0L * dayUs, "purchase", x / 100.0),
          (u, 3L * dayUs, "purchase", (x * slope) / 100.0))
      }.toDF("user_id", "ts_us", "event_type", "value")
      val thetas = graft.ext.Abtest.cupedReadout(ev).collect()
        .map(_.getAs[Long]("theta_ppm")).distinct
      assert(thetas sameElements Array(slope * 1000000L),
        s"slope=$slope got ${thetas.mkString(",")}")
    }
  }
}
