package graft

import graft.operators.Ops
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("selectValues keeps order, renames, retypes") {
    val df = Seq((1, "a", "2001-02-03")).toDF("id", "s", "d")
    val out = Ops.selectValues(df, Seq(
      ("s", "name", None),
      ("id", "key", Some(LongType))))
    assert(out.columns.toSeq == Seq("name", "key"))
    assert(out.schema("key").dataType == LongType)
    assert(out.collect().head.toSeq == Seq("a", 1L))
  }

  test("filterRouter routes every row exactly once, including null conditions") {
    val df = Seq(Some(1), Some(30), None).toDF("v")
    val (t, f) = Ops.filterRouter(df, col("v") > 10)
    assert(t.as[Option[Int]].collect().toSet == Set(Some(30)))
    // Kettle routes condition-null rows to the false branch
    assert(f.as[Option[Int]].collect().toSet == Set(Some(1), None))
  }

  test("suffixJoin emulates Kettle _N collision names") {
    val l = Seq((1, "x", "ln")).toDF("k", "v", "name")
    val r = Seq((1, "y", "rn")).toDF("k", "v", "name")
    val out = Ops.suffixJoin(l, r, Seq("k"))
    assert(out.columns.toSeq == Seq("k", "v", "name", "v_1", "name_1"))
    assert(out.collect().head.toSeq == Seq(1, "x", "ln", "y", "rn"))
  }

  test("suffixJoin collision detection is case-insensitive (Kettle rule)") {
    val l = Seq((1, 10)).toDF("k", "position")
    val r = Seq((1, 20)).toDF("k", "Position")
    val out = Ops.suffixJoin(l, r, Seq("k"))
    assert(out.columns.toSeq == Seq("k", "position", "Position_1"))
  }

  test("suffixJoin: two case-variant right columns get distinct suffixes") {
    val l = Seq((1, 10)).toDF("k", "position")
    val r = Seq((1, 20, 30)).toDF("k", "position", "Position")
    val out = Ops.suffixJoin(l, r, Seq("k"))
    // no pair of output names may collide case-insensitively
    val lower = out.columns.map(_.toLowerCase)
    assert(lower.distinct.length == lower.length, out.columns.mkString(","))
  }

  test("distinctRows = group-by-with-no-aggregates") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "v")
    assert(Ops.distinctRows(df, Seq("k", "v")).count() == 2)
  }

  test("rankInGroup is row_number (ties increment) per group") {
    val df = Seq(("g1", 10), ("g1", 10), ("g1", 5), ("g2", 1))
      .toDF("g", "points")
    val out = Ops.rankInGroup(df, Seq("g"), Seq(col("points").desc), "rank")
      .select("g", "points", "rank").as[(String, Int, Int)].collect().toSeq
    // the two tied 10s get ranks 1 and 2 (unconditional increment, W1)
    assert(out.map(_._3).sorted == Seq(1, 1, 2, 3))
    assert(out.contains(("g1", 5, 3)) && out.contains(("g2", 1, 1)))
  }

  test("sequenceId is contiguous, 1-based, deterministic in given order") {
    val df = Seq("c", "a", "b").toDF("s")
    val out = Ops.sequenceId(df, Seq(col("s").asc), "id")
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("zipWithIndexOrdered matches sequenceId without a global window") {
    val df = (1 to 100).map(i => (100 - i, s"row$i")).toDF("k", "v")
    val seq = Ops.sequenceId(df, Seq(col("k").asc), "id")
      .select("k", "id").as[(Int, Long)].collect().toMap
    val zip = Ops.zipWithIndexOrdered(df, Seq(col("k").asc), "id")
      .select("k", "id").as[(Int, Long)].collect().toMap
    assert(zip == seq)
  }

  test("zipWithIndexOrdered stays a DataFrame plan — no RDD scan barrier") {
    val df = (1 to 100).map(i => (100 - i, s"row$i")).toDF("k", "v")
    val out = Ops.zipWithIndexOrdered(df.repartition(7), Seq(col("k").asc), "id")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"RDD barrier in plan:\n$plan")
    // ids stay contiguous 1..n regardless of input partitioning
    assert(out.select("id").as[Long].collect().sorted.toSeq == (1L to 100L))
  }

  test("zipWithIndexFileOrder: file-order ids 1..n from a projection, built in one job") {
    val dir = java.nio.file.Files.createTempDirectory("zwi-file-order")
    // three files of distinct lines plus one empty file; a small split
    // size cuts the non-empty files into several partitions each
    for ((rows, f) <- Seq(40, 0, 25, 60).zipWithIndex)
      java.nio.file.Files.write(dir.resolve(s"part-$f.txt"),
        (0 until rows).map(i => f"f$f%d-row$i%03d\n").mkString.getBytes("UTF-8"))
    val conf = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "256")
    try {
      val df = spark.read.text(dir.toString)
      assert(df.rdd.getNumPartitions >= 4, df.rdd.getNumPartitions)
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val out = try {
        val built = Ops.zipWithIndexFileOrder(df, "id")
        org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
        built
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs == 1, s"building the ids ran $jobs jobs")

      val got = out.select("value", "id").as[(String, Long)].collect().toSeq
      val want = df.rdd.zipWithIndex().map { case (r, i) => (r.getString(0), i + 1) }
        .collect().toSeq
      assert(got.size == 125)
      assert(got.map(_._2) == (1L to 125L))
      assert(got == want)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("RangePartitioning") && !plan.contains("Window"), plan)
    } finally {
      prev.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
      java.nio.file.Files.list(dir).forEach(java.nio.file.Files.delete(_))
      java.nio.file.Files.delete(dir)
    }
  }

  test("saltedJoin equals the plain join (inner and left)") {
    val left = (1 to 50).map(i => (i % 3, s"l$i")).toDF("k", "lv")
    val right = Seq((0, "r0"), (1, "r1"), (5, "r5")).toDF("k", "rv")
    for (jt <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), jt)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val salted = Ops.saltedJoin(left, right, Seq("k"), buckets = 4, joinType = jt)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(salted == plain, s"joinType=$jt")
    }
  }

  test("saltedJoin preserves a pre-existing __salt column instead of clobbering it") {
    val left = Seq((1, 10), (2, 20)).toDF("k", "__salt")
    val right = Seq((1, "x"), (2, "y")).toDF("k", "w")
    val out = Ops.saltedJoin(left, right, Seq("k"), buckets = 4)
    assert(out.columns.toSeq == Seq("k", "__salt", "w"))
    assert(out.as[(Int, Int, String)].collect().toSet ==
      Set((1, 10, "x"), (2, 20, "y")))
  }

  test("asofJoin: most recent right row at-or-before, per key, left semantics") {
    val left = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 20L, "c"),
        (2L, 5L, "d"), (3L, 99L, "e"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 18L, 200.0), (2L, 6L, 50.0))
      .toDF("k", "ts", "v")
    val out = Ops.asofJoin(left, right, Seq("k"), "ts", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(out == Set(
      (1L, "a", 100.0), // equal ts is inclusive
      (1L, "b", 100.0), // 18 is after 15 → still the 10 o'clock value
      (1L, "c", 200.0),
      (2L, "d", -1.0),  // right row is later → null
      (3L, "e", -1.0))) // key with no right rows at all
  }

  test("asofJoin null semantics match SQL equality (the DuckDB ASOF oracle)") {
    val left = Seq(
      (Some(1L), Some(10L), "a"),
      (None, Some(10L), "nullkey"),   // NULL key never equals NULL key
      (Some(1L), None, "nullts"))     // NULL ts satisfies no ts >= comparison
      .toDF("k", "ts", "tag")
    val right = Seq(
      (Some(1L), Some(5L), Some(1.0)),
      (Some(1L), Some(8L), None),     // matched-but-NULL must stay NULL,
                                      // not fall back to the 5 o'clock 1.0
      (None, Some(1L), Some(99.0)),   // unmatchable: NULL key
      (Some(1L), None, Some(77.0)))   // unmatchable: NULL ts
      .toDF("k", "ts", "v")
    val out = Ops.asofJoin(left, right, Seq("k"), "ts", Seq("v"))
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(out == Map("a" -> -1.0, "nullkey" -> -1.0, "nullts" -> -1.0))
  }

  test("samplePerGroup: exact n per group, deterministic, rows from the input") {
    val data = (1 to 500).map(i => (s"c${i % 4}", i.toLong, s"payload$i"))
    val df = data.toDF("cls", "id", "payload").repartition(9)
    val s1 = Ops.samplePerGroup(df, Seq("cls"), n = 10)
      .as[(String, Long, String)].collect().toSet
    val s2 = Ops.samplePerGroup(df, Seq("cls"), n = 10)
      .as[(String, Long, String)].collect().toSet
    assert(s1 == s2) // deterministic across runs/partitionings
    val perClass = s1.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perClass == Map("c0" -> 10, "c1" -> 10, "c2" -> 10, "c3" -> 10))
    assert(s1.subsetOf(data.toSet)) // real rows, untouched
    // a different seed draws a different sample
    val s3 = Ops.samplePerGroup(df, Seq("cls"), n = 10, seed = 7L)
      .as[(String, Long, String)].collect().toSet
    assert(s3 != s1)
    // small groups pass through whole
    val tiny = Ops.samplePerGroup(df.filter(col("id") <= 3), Seq("cls"), n = 10)
    assert(tiny.count() == 3)
  }

  test("deterministicSample: partition-invariant, seed-sensitive, fraction-accurate") {
    val df = (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("id", "payload")
    val a = Ops.deterministicSample(df, 0.2).select("id").as[Long].collect().toSet
    // repartitioning must not change membership (df.sample would)
    val b = Ops.deterministicSample(df.repartition(17), 0.2)
      .select("id").as[Long].collect().toSet
    assert(a == b)
    assert(math.abs(a.size / 5000.0 - 0.2) < 0.03, s"got ${a.size}")
    val c = Ops.deterministicSample(df, 0.2, seed = 7L).select("id").as[Long].collect().toSet
    assert(c != a)
    assert(Ops.deterministicSample(df, 0.0).count() == 0)
    assert(Ops.deterministicSample(df, 1.0).count() == 5000)
  }

  test("sampleWeighted: matches an independent race replay, excludes nonpositive weights") {
    val data = (1 to 400).map(i => (i.toLong, (i % 20 + 1).toLong, s"p$i"))
    val df = data.toDF("id", "w", "payload").repartition(7)
    val got = Ops.sampleWeighted(df, "w", k = 25, seed = 7L)
      .as[(Long, Long, String)].collect().toSet
    // independent replay of the exponential race: take only the hash
    // from the engine (one pass), recompute u / key / top-k in plain
    // Scala — any drift in the operator's arithmetic or ordering fails
    val hashed = df.select(col("id"), col("w"), col("payload"),
      pmod(xxhash64(struct(col("id"), col("w"), col("payload")), lit(7L)),
        lit(1L << 32)).as("h")).as[(Long, Long, String, Long)].collect()
    val expected = hashed.map { case (id, w, p, h) =>
      val u = (h + 1).toDouble / ((1L << 32).toDouble + 1.0)
      (-math.log(u) / w.toDouble, (id, w, p))
    }.sortBy(_._1).take(25).map(_._2).toSet
    assert(got == expected)
    // partition-invariant: same winners from any physical layout
    val got2 = Ops.sampleWeighted(df.repartition(31), "w", k = 25, seed = 7L)
      .as[(Long, Long, String)].collect().toSet
    assert(got2 == got)
    // zero/negative/null weights never win
    val withBad = df.union(Seq((9001L, 0L, "z"), (9002L, -5L, "n"))
      .toDF("id", "w", "payload"))
    val got3 = Ops.sampleWeighted(withBad, "w", k = 1000, seed = 7L)
      .as[(Long, Long, String)].collect()
    assert(got3.length == 400 && got3.forall(_._2 > 0))
  }

  test("sampleWeightedPerGroup: per-group winners equal the race replay; heavier rows win proportionally") {
    val data = (1 to 600).map { i =>
      // two weight classes per group: 1 vs 9 — winners should skew ~9:1
      (i.toLong, s"g${i % 3}", if (i % 2 == 0) 9L else 1L, s"p$i")
    }
    val df = data.toDF("id", "grp", "w", "payload").repartition(7)
    val got = Ops.sampleWeightedPerGroup(df, Seq("grp"), "w", n = 40, seed = 7L)
      .as[(Long, String, Long, String)].collect()
    // exact per-group counts
    assert(got.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map("g0" -> 40, "g1" -> 40, "g2" -> 40))
    // independent replay: same race key, n smallest per group
    val hashed = df.select(col("id"), col("grp"), col("w"), col("payload"),
      pmod(xxhash64(struct(col("id"), col("grp"), col("w"), col("payload")),
        lit(7L)), lit(1L << 32)).as("h")).as[(Long, String, Long, String, Long)].collect()
    val expected = hashed.map { case (id, g, w, p, h) =>
      val u = (h + 1).toDouble / ((1L << 32).toDouble + 1.0)
      (g, -math.log(u) / w.toDouble, (id, g, w, p))
    }.groupBy(_._1).values.flatMap(_.sortBy(_._2).take(40).map(_._3)).toSet
    assert(got.toSet == expected)
    // the race actually weights: 9-weight rows are half the pool but
    // must take the overwhelming share of the 120 winner slots
    val heavyShare = got.count(_._3 == 9L) / 120.0
    assert(heavyShare > 0.75, s"heavy-weight share $heavyShare")
    // with NO group columns the aggregation is global and the hash
    // struct is identical to the TakeOrdered form's — the two paths
    // must select the exact same winners
    val global = Ops.sampleWeighted(df, "w", k = 40, seed = 7L)
      .as[(Long, String, Long, String)].collect().toSet
    val viaAgg = Ops.sampleWeightedPerGroup(df, Seq.empty, "w", n = 40, seed = 7L)
      .as[(Long, String, Long, String)].collect().toSet
    assert(viaAgg == global)
  }

  test("sampleWeighted: NaN weights are excluded, not sorted-last winners") {
    // Spark orders NaN above every number (NaN > 0 is TRUE), so without
    // the explicit isnan guard a NaN-weight row would survive the
    // filter and win once k exceeds the finite-weight row count
    val df = Seq((1L, 2.0), (2L, Double.NaN), (3L, 0.5), (4L, Double.NaN))
      .toDF("id", "w")
    val got = Ops.sampleWeighted(df, "w", k = 10).as[(Long, Double)].collect()
    assert(got.map(_._1).toSet == Set(1L, 3L), got.mkString(","))
    val gotG = Ops.sampleWeightedPerGroup(df, Seq.empty, "w", n = 10)
      .as[(Long, Double)].collect()
    assert(gotG.map(_._1).toSet == Set(1L, 3L), gotG.mkString(","))
  }

  test("sampleWeighted: adjacent race keys carry margins far above the ln ulp bound") {
    // the cross-engine oracle argument (OracleSqlGen.sampleWeighted)
    // rests on distinct rows' keys never colliding within ~2^-52
    // relative — measure the realized margins on the real table
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("bigint").as("doc_id"), col("lang"),
        col("n_chars").cast("bigint").as("n_chars"))
      .filter(col("n_chars").isNotNull && col("n_chars") > 0)
    val keys = docs.select(
      (-log((pmod(xxhash64(struct(col("doc_id"), col("lang"), col("n_chars")),
        lit(7L)), lit(1L << 32)).cast("double") + lit(1.0)) /
        lit((1L << 32).toDouble + 1.0)) / col("n_chars").cast("double")).as("k"))
      .as[Double].collect().sorted
    assert(keys.length > 100)
    val minRelGap = keys.sliding(2).collect {
      case Array(a, b) if b > a => (b - a) / b
    }.min
    // 1e-9 is ~1e7 ulps of headroom over the ~2.2e-16 ln divergence
    assert(minRelGap > 1e-9, s"min adjacent relative gap $minRelGap")
  }

  test("unionAppend evolved mode tolerates schema drift with null fill") {
    val v1 = Seq((1L, "a")).toDF("id", "text")
    val v2 = Seq((2L, "b", "en")).toDF("id", "text", "lang")
    val out = Ops.unionAppend(v1, v2, evolved = true)
    assert(out.columns.toSeq == Seq("id", "text", "lang"))
    val rows = out.collect().map(r => (r.getLong(0),
      if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(rows == Map(1L -> null, 2L -> "en"))
  }

  test("unionAppend + dedupKeepFirst keeps first by declared order") {
    val a = Seq(("k1", 2, "second"), ("k1", 1, "first")).toDF("k", "ord", "tag")
    val b = Seq(("k2", 1, "only")).toDF("k", "ord", "tag")
    val out = Ops.dedupKeepFirst(Ops.unionAppend(a, b), Seq("k"), Seq(col("ord").asc))
      .select("k", "tag").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "first", "k2" -> "only"))
  }

  test("binnedRangeJoin equals the naive BETWEEN theta-join, pairs unique") {
    val rnd = new scala.util.Random(41)
    val points = (0 until 400).map(i => (i.toLong, rnd.nextDouble() * 1000))
      .toDF("pid", "p")
    val ranges = (0 until 60).map { i =>
      val lo = rnd.nextDouble() * 950
      (i.toLong, lo, lo + rnd.nextDouble() * 120) // widths 0..120, bins of 50
    }.toDF("rid", "lo", "hi")
    val got = Ops.binnedRangeJoin(points, ranges, "p", "lo", "hi", binWidth = 50.0)
      .select("pid", "rid").as[(Long, Long)].collect()
    val want = points.join(ranges, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "rid").as[(Long, Long)].collect().toSet
    assert(got.length == got.toSet.size, "duplicate (point, range) pairs")
    assert(got.toSet == want)
  }

  test("binnedRangeJoin: nulls never match; boundary points match inclusively") {
    val points = Seq((1L, Some(10.0)), (2L, None), (3L, Some(20.0)))
      .toDF("pid", "p")
    val ranges = Seq((1L, Some(10.0), Some(20.0)), (2L, None, Some(99.0)))
      .toDF("rid", "lo", "hi")
    val out = Ops.binnedRangeJoin(points, ranges, "p", "lo", "hi", binWidth = 7.0)
      .select("pid", "rid").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 1L), (3L, 1L))) // inclusive ends, null rows drop
  }

  test("binnedRangeJoin leftsemi: point-side schema, duplicates kept, bin-only matches dropped") {
    // point 15 shares bin 1 with range [17,20] but misses [lo,hi] — a
    // semi join must NOT keep it on bin equality alone
    val points = Seq((1L, 5.0), (2L, 15.0), (3L, 18.0), (3L, 18.0), (4L, 95.0))
      .toDF("pid", "p")
    val ranges = Seq((10L, 17.0, 20.0), (11L, 90.0, 99.0)).toDF("rid", "lo", "hi")
    val out = Ops.binnedRangeJoin(points, ranges, "p", "lo", "hi",
      binWidth = 10.0, joinType = "left_semi")
    assert(out.columns.toSeq == Seq("pid", "p"))
    val got = out.select("pid").as[Long].collect().sorted.toSeq
    assert(got == Seq(3L, 3L, 4L)) // 15 excluded despite bin match; dup row of 3 survives
  }

  test("binnedRangeJoin leftsemi: NULL payload columns don't drop matching points") {
    // the semi-join-back condition must be null-SAFE equality on every
    // point column — plain equality would silently drop any matching
    // point row that carries a NULL anywhere
    val points = Seq((Some(18.0), None: Option[String]), (Some(18.0), Some("x")))
      .toDF("p", "tag")
    val ranges = Seq((17.0, 20.0)).toDF("lo", "hi")
    val out = Ops.binnedRangeJoin(points, ranges, "p", "lo", "hi",
      binWidth = 10.0, joinType = "leftsemi")
    assert(out.count() == 2)
  }

  test("sampleToTokenBudget: orderBy ties are charged row-at-a-time, not as one peer group") {
    val docs = Seq((1L, "web", 10L, 600L), (2L, "web", 10L, 600L))
      .toDF("doc_id", "domain", "ts", "n_tok") // both tied on ts
    val budgets = Seq(("web", 1000L)).toDF("domain", "token_budget")
    val kept = Ops.sampleToTokenBudget(docs, Seq("domain"), "n_tok", budgets,
      Seq(col("ts"))).count()
    // a RANGE frame would give both rows cum = 1200 and keep neither
    assert(kept == 1L)
  }

  test("sampleToTokenBudget: exact boundary per group, budgetless groups drop") {
    val docs = Seq(
      (1L, "web", 400L), (2L, "web", 500L), (3L, "web", 200L), (4L, "web", 50L),
      (5L, "code", 900L), (6L, "code", 200L),
      (7L, "junk", 10L) // no budget row -> dropped entirely
    ).toDF("doc_id", "domain", "n_tok")
    val budgets = Seq(("web", 1000L), ("code", 900L)).toDF("domain", "token_budget")
    val kept = Ops.sampleToTokenBudget(docs, Seq("domain"), "n_tok", budgets,
      Seq(col("doc_id"))).select("doc_id").as[Long].collect().toSet
    // web: 400+500=900 <= 1000, +200 would cross -> doc 3 dropped; doc 4
    // is NOT taken either (cumulative order, not best-fit packing)
    assert(kept == Set(1L, 2L, 5L))
  }

  test("stratifiedSplit: exact per-stratum proportions, deterministic") {
    val df = (0 until 300).map(i => (i.toLong, "l" + (i % 3))).toDF("id", "lang")
    val out = Ops.stratifiedSplit(df, Seq("lang"), Seq(col("id")),
      Seq(("train", 8), ("val", 1), ("test", 1)))
    val counts = out.groupBy("lang", "split").count()
      .as[(String, String, Long)].collect()
      .map { case (l, s, n) => (l, s) -> n }.toMap
    for (l <- Seq("l0", "l1", "l2")) {
      assert(counts((l, "train")) == 80L, counts.toString)
      assert(counts((l, "val")) == 10L)
      assert(counts((l, "test")) == 10L)
    }
    // deterministic under repartitioning
    val again = Ops.stratifiedSplit(df.repartition(11), Seq("lang"),
      Seq(col("id")), Seq(("train", 8), ("val", 1), ("test", 1)))
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(again == out.select("id", "split").as[(Long, String)].collect().toSet)
  }

  test("hashSplit: every row assigned, proportions near weights, retry-stable") {
    val df = (0 until 5000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    val out = Ops.hashSplit(df, Seq(("train", 9), ("holdout", 1)))
    assert(out.filter(col("split").isNull).count() == 0)
    val n = out.filter(col("split") === "holdout").count()
    assert(math.abs(n / 5000.0 - 0.1) < 0.02, s"holdout $n")
    val again = Ops.hashSplit(df.repartition(23), Seq(("train", 9), ("holdout", 1)))
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(again == out.select("id", "split").as[(Long, String)].collect().toSet)
  }

  test("repeatByRate: integer part always, fraction by seeded draw, zero drops, copies numbered") {
    val df = (1L to 2000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "src")
    val rate = when(col("src") === "a", 2.5).otherwise(0.0)
    val out = Ops.repeatByRate(df, "id", rate, "s0")
    // src=b (rate 0) vanishes entirely
    assert(out.filter(col("src") === "b").count() == 0)
    val perId = out.filter(col("src") === "a").groupBy("id").count()
      .as[(Long, Long)].collect().toMap
    assert(perId.size == 1000)
    // every kept row appears 2 or 3 times, ~half get the fractional copy
    assert(perId.values.forall(n => n == 2 || n == 3))
    val three = perId.values.count(_ == 3)
    assert(math.abs(three / 1000.0 - 0.5) < 0.06, s"3-copy share $three")
    // copies numbered 1..n
    val copies = out.filter(col("id") === perId.find(_._2 == 3).get._1)
      .select("copy_no").as[Int].collect().sorted.toSeq
    assert(copies == Seq(1, 2, 3))
    // deterministic under repartitioning; different seed, different draws
    val again = Ops.repeatByRate(df.repartition(17), "id", rate, "s0")
      .select("id", "copy_no").as[(Long, Int)].collect().toSet
    assert(again == out.select("id", "copy_no").as[(Long, Int)].collect().toSet)
    val reseeded = Ops.repeatByRate(df, "id", rate, "s1")
      .select("id", "copy_no").as[(Long, Int)].collect().toSet
    assert(reseeded != again)
    // rate < 1 = deterministic Bernoulli; NULL rate drops
    val frac = Ops.repeatByRate(df, "id", lit(0.3), "s0")
    val kept = frac.count()
    assert(math.abs(kept / 2000.0 - 0.3) < 0.05, s"kept $kept")
    assert(Ops.repeatByRate(df, "id", lit(null).cast("double"), "s0").count() == 0)
  }

  test("profileColumns: one-pass nulls/distinct/min-max, dates in the string lane, approx mode plans no Expand") {
    val df = Seq(
      (1L, Some("en"), java.sql.Date.valueOf("2024-01-05"), 2.5),
      (2L, None, java.sql.Date.valueOf("2024-03-01"), -1.25),
      (3L, Some("fr"), java.sql.Date.valueOf("2024-01-05"), 2.5),
      (4L, Some("en"), java.sql.Date.valueOf("2023-12-31"), 9.0)
    ).toDF("id", "lang", "d", "score")
    val p = Ops.profileColumns(df, Seq("id", "lang", "d", "score"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(1) == 0 && p("id").getLong(2) == 4)
    assert(p("id").getDouble(3) == 1.0 && p("id").getDouble(4) == 4.0)
    assert(p("lang").getLong(1) == 1 && p("lang").getLong(2) == 2)
    assert(p("lang").getString(5) == "en" && p("lang").getString(6) == "fr")
    // DateType rides the string lane as ISO — engine-stable, unlike timestamps
    assert(p("d").getString(5) == "2023-12-31" && p("d").getString(6) == "2024-03-01")
    assert(p("score").getDouble(3) == -1.25 && p("score").getDouble(4) == 9.0)
    assert(p("score").getLong(2) == 3)
    // numeric rows leave the string lane null and vice versa
    assert(p("id").isNullAt(5) && p("lang").isNullAt(3))
    // the 100 TB mode: approximate distinct, and the plan has no Expand
    val approx = Ops.profileColumns(df, Seq("id", "lang"), exactDistinct = false)
    assert(approx.queryExecution.executedPlan.toString.contains("Expand") == false)
    val exact = Ops.profileColumns(df, Seq("id", "lang"))
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"))
    intercept[IllegalArgumentException] {
      Ops.profileColumns(df, Seq("id", "nope"))
    }
  }

  test("clusterSafeSplit: cluster members land together, singletons spread, retry-stable") {
    val df = (0 until 600).map(i => (i.toLong, s"doc$i")).toDF("doc_id", "v")
    // clusters: {0..9} -> 0, {100..104} -> 100; everything else singleton
    val clusters = ((0L until 10L).map(i => (i, 0L)) ++
      (100L until 105L).map(i => (i, 100L))).toDF("id", "cluster")
    val out = Ops.clusterSafeSplit(df, "doc_id", clusters, "s0",
      Seq(("train", 8), ("val", 1), ("test", 1)))
    assert(out.count() == 600 && out.filter(col("split").isNull).count() == 0)
    // every cluster resolves to ONE split — the leakage guarantee
    val bySplit = out.filter(col("doc_id") < 10)
      .select("split").distinct().as[String].collect()
    assert(bySplit.length == 1, bySplit.toSeq.toString)
    val bySplit2 = out.filter(col("doc_id") >= 100 && col("doc_id") < 105)
      .select("split").distinct().as[String].collect()
    assert(bySplit2.length == 1)
    // singletons spread roughly by weight (8/1/1 over ~585 units)
    val train = out.filter(col("split") === "train").count()
    assert(math.abs(train / 600.0 - 0.8) < 0.06, s"train $train")
    // pure function of (data, seed): repartitioning changes nothing,
    // a different seed produces a different assignment
    val again = Ops.clusterSafeSplit(df.repartition(13), "doc_id",
      clusters.repartition(3), "s0", Seq(("train", 8), ("val", 1), ("test", 1)))
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(again == out.select("doc_id", "split").as[(Long, String)].collect().toSet)
    val reseeded = Ops.clusterSafeSplit(df, "doc_id", clusters, "s1",
      Seq(("train", 8), ("val", 1), ("test", 1)))
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(reseeded != again)
  }

  test("mixtureWeights: rates bite only below-target groups; unlisted pass at 1.0") {
    // a: 100 units (50%), b: 60, c: 40. Targets: a -> 10% (bites),
    // b -> 90% (above actual -> no upsampling, rate 1.0), c unlisted.
    val df = (Seq.fill(10)(("a", 10L)) ++ Seq.fill(6)(("b", 10L)) ++
      Seq.fill(4)(("c", 10L))).toDF("src", "units")
    val out = Ops.mixtureWeights(df, "src", col("units"),
        Map("a" -> 0.1, "b" -> 0.9))
      .select("src", "n_rows", "share", "rate")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("a") == ((10L, 0.5, 0.2)))  // 0.1 * 200 / 100
    assert(out("b") == ((6L, 0.3, 1.0)))   // target above actual: keep all
    assert(out("c") == ((4L, 0.2, 1.0)))   // unlisted: pass through
  }

  test("recallGate passes output through when recall clears the floor") {
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Seq((1L, 2L, 0.9), (3L, 4L, 0.8), (9L, 9L, 0.7)).toDF("id_a", "id_b", "s")
    // 2 of 3 truth pairs recovered -> recall 0.666667
    val gated = Ops.recallGate(out, truth, Seq("id_a", "id_b"), floor = 0.6)
    assert(gated.count() == 3) // full output survives, extra rows included
    assert(gated.select("recall").distinct().as[Double].collect().toSeq ==
      Seq(0.666667))
  }

  test("recallGate trips to ZERO rows when the family degrades below the floor") {
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Seq((1L, 2L, 0.9)).toDF("id_a", "id_b", "s") // recall 0.25
    assert(Ops.recallGate(out, truth, Seq("id_a", "id_b"), floor = 0.9).count() == 0)
    // empty output against non-empty truth: recall 0, always trips
    assert(Ops.recallGate(out.limit(0), truth, Seq("id_a", "id_b"),
      floor = 0.01).count() == 0)
  }

  test("recallGate: empty truth is a vacuous pass; duplicate out keys count once") {
    val truth = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Seq((1L, 2L, 0.9)).toDF("id_a", "id_b", "s")
    val gated = Ops.recallGate(out, truth, Seq("id_a", "id_b"), floor = 1.0)
    assert(gated.count() == 1)
    assert(gated.select("recall").as[Double].head() == 1.0)
    // the same truth tuple appearing twice in out must not inflate recall
    val dupOut = Seq((1L, 2L, 0.9), (1L, 2L, 0.8)).toDF("id_a", "id_b", "s")
    val truth2 = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Ops.recallGate(dupOut, truth2, Seq("id_a", "id_b"), floor = 0.6)
      .count() == 0) // recall is 0.5, not 1.0
  }

  test("withinTolerance: drifted, null, and zero-exact rows fail the gate") {
    val df = Seq(
      (1L, 100.0, 104.0),  // within 5%
      (2L, 100.0, 106.0),  // drifted
      (3L, -100.0, -97.0), // negatives compare on magnitude
      (4L, 0.0, 0.0),      // zero exact: only an exact-zero approx passes
      (5L, 0.0, 0.1)
    ).toDF("id", "exact", "approx")
      .union(Seq((6L, null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(1.0))).toDF("id", "exact", "approx")
        .selectExpr("id", "cast(exact as double) exact", "approx"))
    val kept = df.filter(Ops.withinTolerance(col("approx"), col("exact"), 0.05))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("cmsEstimate: never under-counts, matches exact on a wide sketch, gate is load-bearing") {
    val words = Seq("alpha", "beta", "gamma", "delta")
    val toks = (1 to 400).map(i => words(i % words.length)).toDF("token")
    val sk = toks.agg(expr("count_min_sketch(token, 0.0001d, 0.99d, 7)").as("sk"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val rows = exact.crossJoin(sk)
      .withColumn("est", Ops.cmsEstimate(col("sk"), col("token")))
      .select("token", "cnt", "est").as[(String, Long, Long)].collect()
    assert(rows.length == 4)
    // a wide sketch (eps 1e-4 over 4 distinct tokens) has no collisions:
    // the estimate IS the exact count — which also proves the probe
    // hashes items exactly as the aggregate's update path did
    assert(rows.forall { case (_, cnt, est) => est == cnt })
    // trip-test: probing a sketch built over DIFFERENT content must fail
    // the calibration gate (est >= cnt) — the q_approx_topk evidence
    // pattern relies on this
    val otherSk = (1 to 400).map(i => s"other${i % 4}").toDF("token")
      .agg(expr("count_min_sketch(token, 0.0001d, 0.99d, 7)").as("sk"))
    val surviving = exact.crossJoin(otherSk)
      .withColumn("est", Ops.cmsEstimate(col("sk"), col("token")))
      .filter(col("est") >= col("cnt"))
    assert(surviving.count() == 0)
  }

  test("trainingOrder: seeded permutation with contiguous positions and balanced shards") {
    val df = (1L to 103L).toDF("id")
    def run(seed: String) = Ops.trainingOrder(df, "id", seed, shards = 4)
      .select("id", "pos", "shard").as[(Long, Long, Long)].collect()
    val rows = run("epoch-0")
    // a permutation: every position 1..N exactly once
    assert(rows.map(_._2).sorted.toSeq == (1L to 103L))
    // round-robin deal: shard sizes differ by at most one, all shards hit
    val sizes = rows.groupBy(_._3).values.map(_.size)
    assert(sizes.size == 4 && sizes.max - sizes.min <= 1)
    // shard follows the position deal exactly
    assert(rows.forall { case (_, pos, shard) => shard == (pos - 1) % 4 })
    // bit-identical on re-run; an id's hash ignores row order upstream
    assert(run("epoch-0").sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
    // a different seed is a genuinely different permutation
    val other = run("epoch-1")
    assert(rows.sortBy(_._1).map(_._2).toSeq != other.sortBy(_._1).map(_._2).toSeq)
    // the permutation is hash-order, not id-order
    assert(rows.sortBy(_._2).map(_._1).toSeq != (1L to 103L))
    // output names are configurable and never silently overwrite input
    val clash = df.withColumn("pos", col("id"))
    val e = intercept[IllegalArgumentException] {
      Ops.trainingOrder(clash, "id", "s", shards = 2)
    }
    assert(e.getMessage.contains("already has"))
    assert(Ops.trainingOrder(clash, "id", "s", shards = 2,
      posCol = "epoch_pos", shardCol = "epoch_shard")
      .columns.toSet == Set("id", "pos", "epoch_pos", "epoch_shard"))
  }

  test("integrityChecksum: invariant to row order and partitioning") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"text-$i", s"g${i % 3}")).toDF("id", "t", "g")
    def sums(d: org.apache.spark.sql.DataFrame) =
      Ops.integrityChecksum(d, Seq("g"), Seq("id", "t"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val a = sums(df)
    val b = sums(df.repartition(11).sortWithinPartitions(col("t").desc))
    assert(a == b)
    assert(a.values.map(_._1).sum == 500L)
    // any single-row content change moves that group's checksum
    val c = sums(df.withColumn("t",
      when(col("id") === 250L, lit("text-250x")).otherwise(col("t"))))
    assert(c("g1") != a("g1") && c("g0") == a("g0") && c("g2") == a("g2"))
  }

  test("integrityChecksum: NULL, empty, and separator boundaries all hash apart") {
    import spark.implicits._
    def one(v1: Option[String], v2: Option[String]) =
      Ops.integrityChecksum(
        Seq((1L, v1, v2)).toDF("id", "a", "b").withColumn("g", lit("x")),
        Seq("g"), Seq("a", "b"))
        .as[(String, Long, Long)].collect().head._3
    // NULL ≠ empty string in either position
    assert(one(None, Some("q")) != one(Some(""), Some("q")))
    // field boundary is real: ("a","b") ≠ ("ab","") ≠ ("", "ab")
    assert(Set(one(Some("a"), Some("b")), one(Some("ab"), Some("")),
      one(Some(""), Some("ab"))).size == 3)
    intercept[IllegalArgumentException](
      Ops.integrityChecksum(Seq(1).toDF("id"), Seq("id"), Nil))
  }

  test("negativeSample: never the anchor, in-domain, k per anchor, partition-invariant") {
    val n = 40L
    val df = spark.range(0L, n).toDF("id")
    val out = Ops.negativeSample(df, "id", k = 5, n = n)
      .as[(Long, Int, Long)].collect()
    assert(out.length == 40 * 5)
    assert(out.forall { case (a, _, g) => g != a && g >= 0 && g < n })
    // every anchor gets exactly k ranks 0..k-1
    assert(out.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(0, 1, 2, 3, 4)))
    // deterministic under partitioning
    val repart = Ops.negativeSample(df.repartition(7), "id", k = 5, n = n)
      .as[(Long, Int, Long)].collect().toSet
    assert(repart == out.toSet)
    // draws actually spread over the domain (uniformity sanity)
    assert(out.map(_._3).distinct.length > 25)
    intercept[IllegalArgumentException](Ops.negativeSample(df, "id", 0, n))
    intercept[IllegalArgumentException](Ops.negativeSample(df, "id", 1, 1L))
  }

  test("fanOutForCompute (r18 cost gate): tiny inputs skip the exchange, " +
    "mid budgets shrink it, max budget reaches defaultParallelism, " +
    "exchange-bearing plans pass through untouched") {
    import org.apache.spark.sql.functions._
    // one-slice range: an under-split source with ~800 estimated bytes
    // (100 rows × 8-byte long) — the stats the gate reads
    val src = spark.range(0L, 100L, 1L, numPartitions = 1).toDF("id")
    // generous per-task budget → target 1 → NO exchange, plan unchanged
    val same = Ops.fanOutForCompute(src, 1024 * 1024L, col("id"))
    assert(!same.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(same.rdd.getNumPartitions === 1)
    // maximal budget (legacy signature) → defaultParallelism tasks
    val full = Ops.fanOutForCompute(src, col("id"))
    assert(full.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // intermediate budget → proportionally fewer tasks (800 / 300 = 2)
    val mid = Ops.fanOutForCompute(src, 300L, col("id"))
    assert(mid.rdd.getNumPartitions === 2)
    // fan-out never changes the rows
    assert(full.agg(sum("id")).head.getLong(0) === 4950L)
    // ADVICE r17: a plan that already contains an exchange must be
    // returned AS-IS — probing it would finalize AQE and eagerly run
    // the upstream shuffle as a discarded job
    val shuffled = src.repartition(2, col("id"))
    assert(Ops.fanOutForCompute(shuffled, col("id")) eq shuffled)
    intercept[IllegalArgumentException](
      Ops.fanOutForCompute(src, 0L, col("id")))
  }
}
