package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.operators.Ops

/** Operator semantics ported from the reference's doctests
  * (meza/process.py Examples blocks — see SURVEY.md §5).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("fanoutScan widens a starved scan, is a no-op at >= cores/2 partitions") {
    val scan = Tables.load(spark, sf0001, "documents")
    val cores = spark.sparkContext.defaultParallelism
    assert(scan.rdd.getNumPartitions == 1, "fixture: single-row-group file")
    val fanned = Ops.fanoutScan(scan)
    assert(fanned.rdd.getNumPartitions == cores)
    // row multiset unchanged (the exchange moves rows, never keys them)
    assert(fanned.count() == scan.count())
    // input already at cores/2 partitions passes through untouched
    val half = scan.repartition(cores / 2)
    assert(Ops.fanoutScan(half) eq half)
    assert(Ops.fanoutScanBy(half, col("doc_id")) eq half)
  }

  test("materialize: a local cut without a checkpoint dir, a reliable one with it; release") {
    def cutFiles(dir: java.nio.file.Path): Long =
      java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_)).count()
    val df = spark.range(100).selectExpr("id", "id * 2 AS x")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val local = Ops.materialize(df)
    assert(local.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    assert(local.agg(sum("x")).head().getLong(0) == 9900L)
    withCheckpointDir { dir =>
      // the local cut made before the dir was set wrote nothing there, and
      // releasing it is a no-op
      Ops.release(local)
      assert(cutFiles(dir) == 0)
      assert(local.count() == 100)
      val reliable = Ops.materialize(df)
      assert(cutFiles(dir) > 0, "a reliable cut writes under the dir")
      assert(reliable.agg(sum("x")).head().getLong(0) == 9900L)
      // a projection of the cut resolves to the same directory
      Ops.release(reliable.select("x"))
      assert(cutFiles(dir) == 0, "release deletes the cut's files")
    }
  }

  test("one lineage-cut primitive: no checkpoint call in src/main outside Ops.materialize") {
    val calls = Seq("localCheckpoint(", ".checkpoint(")
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .filter(_.toString.endsWith(".scala")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    assert(sources.size > 50, "src/main sources found")
    val hits = for {
      f <- sources
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray.toSeq
        .map(_.toString).zipWithIndex
      c <- calls if line.contains(c)
    } yield (f.getFileName.toString, i + 1, c)
    assert(hits.map(h => (h._1, h._3)).sorted ==
      calls.map(c => ("Ops.scala", c)).sorted, hits.mkString("\n"))
  }

  test("cut selects, excludes, prunes (process.py:901-934)") {
    val df = Seq(("a1", Some(1), Some("x")), ("a2", None, None))
      .toDF("a", "b", "c")
    assert(Ops.cut(df, Seq("a")).columns.toSeq == Seq("a"))
    assert(Ops.cut(df, Seq("a"), exclude = true).columns.toSeq == Seq("b", "c"))
    // prune drops rows that became all-null after the cut
    assert(Ops.cut(df, Seq("b", "c"), prune = true).count() == 1)
  }

  test("tfilter predicates with null-safe inverse (process.py:813-848)") {
    val df = Seq(Some(1), Some(5), None).toSeq.toDF("x")
    assert(Ops.tfilter(df, "x", _ > 2).count() == 1)
    // inverse keeps the null row (pred is null -> treated as non-match)
    assert(Ops.tfilter(df, "x", _ > 2, inverse = true).count() == 2)
  }

  test("grep any/all/inverse rule combinations (process.py:974-1035)") {
    val df = Seq(("cat", "dog"), ("cat", "fish"), ("bird", "fish"))
      .toDF("p1", "p2")
    val rCat = Ops.Regex("^cat", Seq("p1"))
    val rFish = Ops.Substr("fish", Seq("p2"))
    assert(Ops.grep(df, Seq(rCat, rFish), anyMatch = true).count() == 3)
    assert(Ops.grep(df, Seq(rCat, rFish)).count() == 1)
    assert(Ops.grep(df, Seq(rCat, rFish), inverse = true).count() == 2)
    // reference field combination (test_process.py:222-246): without
    // anyMatch ALL of a rule's fields must match; with it, ANY field
    val multi = Ops.Substr("fish", Seq("p1", "p2"))
    assert(Ops.grep(df, Seq(multi)).count() == 0)
    assert(Ops.grep(df, Seq(multi), anyMatch = true).count() == 2)
  }

  test("unique dedupes on field subset (process.py:851-898, exact variant)") {
    val df = Seq((1, "a"), (1, "b"), (2, "a")).toDF("k", "v")
    assert(Ops.unique(df, Seq("k")).count() == 2)
    assert(Ops.unique(df).count() == 3)
  }

  test("hashFields replaces values by digest (process.py:1038-1070)") {
    val df = Seq(("spam", 1)).toDF("a", "b")
    val got = Ops.hashFields(df, Seq("a"), "md5").select("a").as[String].head()
    // md5("spam") — same value the reference's doctest pins
    assert(got == "e09f6a7593f8ae3994ea57e1117f67ec")
  }

  test("fillempty: constant, from-column, forward, backward, limit (process.py:361-431)") {
    val df = Seq(
      (1, Some(10.0), Some(1.0)),
      (2, None, Some(2.0)),
      (3, None, None),
      (4, Some(40.0), Some(4.0))).toDF("idx", "x", "y")

    assert(rows(Ops.fillConstant(df, 0.0, Seq("x")).select("x").orderBy("idx")) ==
      Seq(Seq(10.0), Seq(0.0), Seq(0.0), Seq(40.0)))

    assert(rows(Ops.fillFromColumn(df, "x", "y").select("x").orderBy("idx")) ==
      Seq(Seq(10.0), Seq(2.0), Seq(null), Seq(40.0)))

    assert(rows(Ops.fillDirectional(df, Seq("x"), Seq("idx")).select("x").orderBy("idx")) ==
      Seq(Seq(10.0), Seq(10.0), Seq(10.0), Seq(40.0)))

    assert(rows(Ops.fillDirectional(df, Seq("x"), Seq("idx"), back = true)
      .select("x").orderBy("idx")) ==
      Seq(Seq(10.0), Seq(40.0), Seq(40.0), Seq(40.0)))

    // limit=1: only one consecutive null filled, the second stays null
    assert(rows(Ops.fillDirectional(df, Seq("x"), Seq("idx"), limit = Some(1))
      .select("x").orderBy("idx")) ==
      Seq(Seq(10.0), Seq(10.0), Seq(null), Seq(40.0)))
  }

  test("productJoin is right-biased cartesian merge (process.py:785-810)") {
    val l = Seq((1, "L")).toDF("k", "side")
    val r = Seq((9, "R"), (8, "R2")).toDF("j", "side")
    val out = Ops.productJoin(l, r)
    assert(out.columns.toSeq == Seq("k", "j", "side"))
    assert(out.count() == 2)
    assert(out.select("side").as[String].collect().toSet == Set("R", "R2"))
  }

  test("aggregateCol keeps first record shape (process.py:513-553)") {
    val df = Seq(("r1", 1.0), ("r2", 2.0), ("r3", 6.0)).toDF("id", "v")
    val out = Ops.aggregateCol(df.orderBy("id"), "v", "sum")
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.select("v").as[Double].head() == 9.0)
  }

  test("mergeAgg sums columns across records (process.py:434-510)") {
    val df = Seq((1.0, 4.0), (2.0, 5.0)).toDF("a", "b")
    assert(rows(Ops.mergeAgg(df, Seq("a", "b"))) == Seq(Seq(3.0, 9.0)))
  }

  test("pivot + normalize round-trip (process.py:670-782)") {
    val df = Seq(("r1", "A", 1.0), ("r1", "B", 2.0), ("r2", "A", 3.0))
      .toDF("row", "c", "d")
    val piv = Ops.pivot(df, Seq("row"), "c", "d", "sum",
      values = Seq("A", "B"), fillValue = Some(0.0))
    assert(rows(piv.orderBy("row")) == Seq(Seq("r1", 1.0, 2.0), Seq("r2", 3.0, 0.0)))

    val norm = Ops.normalize(piv, Seq("A", "B"), "c", "d", Seq("row"),
      castTo = Some(DoubleType))
    assert(norm.count() == 4)
    assert(rows(norm.orderBy("row", "c")) ==
      Seq(Seq("r1", "A", 1.0), Seq("r1", "B", 2.0), Seq("r2", "A", 3.0), Seq("r2", "B", 0.0)))
  }

  test("everseen running extrema with and without pad (fntools.py:1190-1218)") {
    val df = Seq((1, 4), (2, 6), (3, 3), (4, 8)).toDF("idx", "v")
    val padded = Ops.everseen(df, "v", Seq("idx"), op = "max", pad = true)
    assert(rows(padded.select("v_running").orderBy("idx")) ==
      Seq(Seq(4), Seq(6), Seq(6), Seq(8)))
    // pad=false: only rows setting a new extremum survive
    val sparse = Ops.everseen(df, "v", Seq("idx"), op = "max", pad = false)
    assert(rows(sparse.select("v").orderBy("idx")) == Seq(Seq(4), Seq(6), Seq(8)))
  }

  test("concat unions ragged schemas (io.py:1695-1722)") {
    val a = Seq((1, "x")).toDF("a", "b")
    val b = Seq((2, "y")).toDF("a", "c")
    val out = Ops.concat(Seq(a, b))
    assert(out.columns.toSet == Set("a", "b", "c"))
    assert(out.count() == 2)
    assert(out.filter(col("c").isNull).count() == 1)
  }

  test("headRows keeps the first n rows in input order (io.py:456-479 first_row/islice)") {
    val df = spark.range(0, 10, 1, 1).toDF("x")
    assert(Ops.headRows(df, 3).as[Long].collect().toSeq == Seq(0L, 1L, 2L))
    // islice past the end yields everything; n = 0 nothing
    assert(Ops.headRows(df, 20).count() == 10)
    assert(Ops.headRows(df, 0).count() == 0)
  }

  test("groupCollect gathers each group's whole records, sorted on request (aggregator=list)") {
    val df = Seq(("a", 2, "y"), ("b", 1, "z"), ("a", 1, "x"), ("a", 3, "w")).toDF("k", "v", "s")
    val got = Ops.groupCollect(df, Seq("k"), sortWithin = Seq("v")).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getInt(1), x.getString(2)))).toMap
    assert(got == Map(
      "a" -> Seq(("a", 1, "x"), ("a", 2, "y"), ("a", 3, "w")),
      "b" -> Seq(("b", 1, "z"))))
    // unsorted: the same records per group, order unspecified
    val loose = Ops.groupCollect(df, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(1)).toSet).toMap
    assert(loose == Map("a" -> Set(1, 2, 3), "b" -> Set(1)))
  }

  test("splitWrite writes one dir per key and bounded chunks (process.py:937-971)") {
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4)).toDF("k", "v").repartition(1)
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    Ops.splitWrite(df, dir, key = Some("k"), maxRecordsPerFile = Some(2L))
    def parts(sub: String) = new java.io.File(dir, sub).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts("k=a") == 2 && parts("k=b") == 1)
    val back = spark.read.parquet(dir).select("k", "v").as[(String, Int)].collect().toSet
    assert(back == Set(("a", 1), ("a", 2), ("a", 3), ("b", 4)))
    // no key: one flat dataset, overwritten in place
    Ops.splitWrite(df.filter($"v" > 2), dir)
    assert(spark.read.parquet(dir).select("v").as[Int].collect().toSet == Set(3, 4))
  }

  test("dropTail drops last k under explicit order (io.py:469-479)") {
    val df = Seq(1, 2, 3, 4, 5).toDF("x")
    assert(Ops.dropTail(df, 2, Seq("x")).as[Int].collect().toSet == Set(1, 2, 3))
    // edge cases: k = 0 is identity, k >= n empties
    assert(Ops.dropTail(df, 0, Seq("x")).count() == 5)
    assert(Ops.dropTail(df, 5, Seq("x")).count() == 0)
    assert(Ops.dropTail(df, 9, Seq("x")).count() == 0)
    // multi-key lexicographic order
    val two = Seq((1, "b"), (1, "a"), (2, "a")).toDF("x", "y")
    assert(Ops.dropTail(two, 1, Seq("x", "y")).collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet == Set((1, "a"), (1, "b")))
    // scale guard: the plan must not contain a partition-less Window — the
    // cutoff comes from a top-k, the keep pass is a parallel range filter
    val plan = Ops.dropTail(df, 2, Seq("x")).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"dropTail must not use a global window:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k cutoff:\n$plan")
  }

  test("asofJoin matches each left row to latest right at or before its time") {
    val purchases = Seq((100L, 1L, 50L), (101L, 1L, 10L), (102L, 2L, 30L), (104L, 4L, 7L))
      .toDF("event_id", "user_id", "ts")
    val views = Seq((200L, 1L, 45L), (201L, 1L, 20L), (202L, 2L, 30L), (203L, 3L, 9L))
      .toDF("event_id", "user_id", "ts")
    val got = Ops.asofJoin(purchases, views, "user_id", "ts", "ts", Seq("event_id"))
      .select(col("event_id"), col("__match.event_id").as("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // user1@50 -> view@45; user1@10 -> none (earliest view is 20, drops —
    // inner semantics); user2@30 -> view@30 (equality included);
    // user4 has no views -> drops
    assert(got == Map(100L -> 200L, 102L -> 202L))
  }

  test("asofJoin forward and nearest directions; exact ties resolve backward") {
    // user 1 views at t=4 (id 300) and t=13 (id 301); user 2 view at t=30
    val views = Seq((300L, 1L, 4L), (301L, 1L, 13L), (302L, 2L, 30L))
      .toDF("event_id", "user_id", "ts")
    // purchases: t=5 (nearer 4), t=9 (d5 vs d4 -> forward 13), t=10 (tie? no:
    // d6 vs d3 -> 13), t=8 (no right exists at equal distance... 8-4=4 vs
    // 13-8=5 -> 4), t=2 (before all views: backward drops, nearest=forward 4),
    // t=40 user 2 (after all: forward drops, nearest=backward 30)
    val purchases = Seq((400L, 1L, 5L), (401L, 1L, 9L), (402L, 1L, 2L),
      (403L, 2L, 40L)).toDF("event_id", "user_id", "ts")
    def run(dir: String) = Ops.asofJoin(purchases, views, "user_id", "ts", "ts",
        Seq("event_id"), direction = dir)
      .select(col("event_id"), col("__match.event_id").as("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(run("forward") == Map(400L -> 301L, 401L -> 301L, 402L -> 300L))
    assert(run("nearest") == Map(400L -> 300L, 401L -> 301L, 402L -> 300L,
      403L -> 302L))
    // exact tie: purchase t=8 with views at 4 and 12 -> backward (4)
    val v2 = Seq((310L, 1L, 4L), (311L, 1L, 12L)).toDF("event_id", "user_id", "ts")
    val p2 = Seq((410L, 1L, 8L)).toDF("event_id", "user_id", "ts")
    val tie = Ops.asofJoin(p2, v2, "user_id", "ts", "ts", Seq("event_id"), "nearest")
      .select(col("__match.event_id")).collect().head.getLong(0)
    assert(tie == 310L)
    // sub-second TIMESTAMP tie at a large epoch: distances must compare as
    // exact unix_micros longs — double seconds (micros/1e6) round and can
    // flip the tie forward
    for (baseUs <- Seq(1700000000000000L, 1699999999337013L)) {
      val vt = Seq((320L, 1L, baseUs + 100000L), (321L, 1L, baseUs + 300000L))
        .toDF("event_id", "user_id", "us")
        .select(col("event_id"), col("user_id"), timestamp_micros(col("us")).as("ts"))
      val pt = Seq((420L, 1L, baseUs + 200000L)).toDF("event_id", "user_id", "us")
        .select(col("event_id"), col("user_id"), timestamp_micros(col("us")).as("ts"))
      val got = Ops.asofJoin(pt, vt, "user_id", "ts", "ts", Seq("event_id"), "nearest")
        .select(col("__match.event_id")).collect().head.getLong(0)
      assert(got == 320L, s"sub-second tie at $baseUs must resolve backward, got $got")
    }
  }

  test("rangeJoin: containment incl. boundaries/overlaps, equals the naive inequality join") {
    val rows = Seq(0L, 5L, 10L, 15L, 23L, 99L).toDF("k")
    // overlapping intervals; 10 sits in both a and b; 99 matches nothing
    val iv = Seq(("a", 0L, 10L), ("b", 10L, 20L), ("c", 14L, 25L))
      .toDF("iv_id", "lo", "hi")
    // bucketWidth smaller than, equal to, and larger than interval lengths
    for (w <- Seq(3L, 10L, 64L)) {
      val got = Ops.rangeJoin(rows, "k", iv, "lo", "hi", bucketWidth = w)
        .select("k", "iv_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val naive = rows.crossJoin(iv)
        .filter(col("k") >= col("lo") && col("k") <= col("hi"))
        .select("k", "iv_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == naive, s"bucketWidth=$w: $got vs $naive")
    }
    val expect = Seq((0L, "a"), (5L, "a"), (10L, "a"), (10L, "b"), (15L, "b"),
      (15L, "c"), (23L, "c"))
    val got = Ops.rangeJoin(rows, "k", iv, "lo", "hi", bucketWidth = 10L)
      .select("k", "iv_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == expect)
  }

  test("upsert: latest version per key, incoming batch wins ties, inserts land, schemas may drift") {
    val base = Seq((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "c")).toDF("k", "v", "x")
    // key 1: higher version replaces; key 3: SAME version -> updates win;
    // key 9: pure insert; update batch lacks column x -> null-fills
    val upd = Seq((1L, 2, "A"), (3L, 2, "C"), (9L, 1, "I")).toDF("k", "v", "y")
    val got = Ops.upsert(base, upd, "k", "v").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.getAs[String]("x")), Option(r.getAs[String]("y"))))
    assert(got.toSeq == Seq(
      (1L, 2, None, Some("A")),
      (2L, 1, Some("b"), None),
      (3L, 2, None, Some("C")),
      (9L, 1, None, Some("I"))), got.mkString(","))
  }

  test("fuzzyJoin equals the naive cross-join levenshtein filter, incl. short strings") {
    val rnd = new scala.util.Random(20260813L)
    val alphabet = "abcde"
    def word(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    // random base words of varied length plus planted 1- and 2-edit
    // variants and degenerate short strings; the long tail (28-40 chars)
    // straddles the 32-char deletion/segment regime boundary so both
    // candidate paths and the seam between them are exercised
    val bases = (1 to 60).map(_ => word(2 + rnd.nextInt(12))) ++
      (1 to 16).map(_ => word(28 + rnd.nextInt(13)))
    val variants = bases.flatMap { w =>
      val del = if (w.length > 1) Seq(w.substring(1)) else Nil
      val sub = Seq(w.updated(rnd.nextInt(w.length), 'z'))
      val ins = Seq(w + "q")
      del ++ sub ++ ins
    }
    val lefts = (bases.take(30) ++ variants.take(40) ++ Seq("a", "ab", "")).distinct
    val rights = (bases ++ variants.drop(40).take(30) ++ Seq("b", "xy")).distinct
    val ldf = lefts.toDF("s"); val rdf = rights.toDF("s")
    val got = Ops.fuzzyJoin(ldf, rdf, "s", "s", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val naive = (for {
      a <- lefts if a.nonEmpty; b <- rights if b.nonEmpty
      d = {
        val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        dp(a.length)(b.length)
      } if d <= 2
    } yield (a, b, d)).toSet
    assert(got == naive,
      s"missing=${(naive -- got).take(5)} extra=${(got -- naive).take(5)}")
    assert(naive.nonEmpty)
  }

  test("histogram: edge values, boundary bins, out-of-range and null exclusion") {
    val df = Seq[java.lang.Double](0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.999,
      4.0, -0.1, 4.1, null).toDF("v")
    // [0,4) in 4 bins of width 1; hi=4.0 closes into bin 3
    val got = Ops.histogram(df, "v", 4, 0.0, 4.0).orderBy("bin_id").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0, 0.0, 1.0, 2L),   // 0.0, 0.5
      (1, 1.0, 2.0, 2L),   // 1.0 (boundary goes UP), 1.5
      (2, 2.0, 3.0, 2L),   // 2.0, 2.5
      (3, 3.0, 4.0, 3L)),  // 3.0, 3.999, and hi=4.0 closed in
      got.mkString(","))
  }

  test("corrMatrix: known correlations, constant-column NULL, complete-case drop") {
    val df = Seq(
      (Option(1.0), Option(2.0), Option(3.0), Option(7.0)),
      (Option(2.0), Option(4.0), Option(1.0), Option(7.0)),
      (Option(3.0), Option(6.0), Option(2.0), Option(7.0)),
      (Option(9.0), None, Option(9.0), Option(9.0))) // dropped: null in y
      .toDF("x", "y", "z", "const")
    val got = Ops.corrMatrix(df, Seq("x", "y", "z", "const"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(got(("x", "y")).contains(1.0), s"perfect correlation: $got")
    assert(got(("x", "const")).isEmpty && got(("y", "const")).isEmpty &&
      got(("z", "const")).isEmpty, "constant column must yield NULL")
    // x=[1,2,3], z=[3,1,2]: corr = -1/2
    assert(got(("x", "z")).contains(-0.5), s"hand value: $got")
    assert(got.size == 6, s"4 columns -> 6 pairs: ${got.keys}")
  }

  test("profile: completeness, cardinality, and numeric stats per column") {
    val df = Seq((1L, Option(2.5), "a"), (2L, None, "b"), (3L, Option(4.5), "a"))
      .toDF("id", "v", "s")
    val got = Ops.profile(df, Seq("id", "v", "s")).orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)), Option(r.get(6)))).toSeq
    assert(got == Seq(
      ("id", 3L, 3L, 3L, Some(1.0), Some(3.0), Some(6.0)),
      ("s", 3L, 3L, 2L, None, None, None),
      ("v", 3L, 2L, 2L, Some(2.5), Some(4.5), Some(7.0))))
  }

  test("trailingWindowAgg: (t-1h, t] frame, boundary exclusion, same-second ties share") {
    // user u: t=0, 1800, 3599 (all within 1h of 3599), 3600 (frame (0,3600]
    // excludes t=0), plus two same-second events at 7200 that see each other
    val rows = Seq(("u", "e1", 0L, 1.0), ("u", "e2", 1800L, 2.0),
      ("u", "e3", 3599L, 4.0), ("u", "e4", 3600L, 8.0),
      ("u", "e5", 7200L, 16.0), ("u", "e6", 7200L, 32.0),
      ("v", "f1", 1800L, 100.0))
    val df = rows.toDF("user_id", "event_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Ops.trailingWindowAgg(df, Seq("user_id"), "ts", "value", 3600L)
      .select("event_id", "n_trail", "sum_trail")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("e1", 1L, 1.0), ("e2", 2L, 3.0), ("e3", 3L, 7.0),
      ("e4", 3L, 14.0),          // t=0 fell out of (0, 3600]
      ("e5", 2L, 48.0), ("e6", 2L, 48.0), // same-second tie: shared frame
      ("f1", 1L, 100.0)))        // partitions isolate users
  }

  test("intervalJoin: one row per overlapping pair, equals the naive join at any width") {
    val a = Seq(("a1", 0L, 10L), ("a2", 8L, 30L), ("a3", 50L, 60L), ("a4", 29L, 29L))
      .toDF("a_id", "a_lo", "a_hi")
    val b = Seq(("b1", 5L, 9L), ("b2", 25L, 55L), ("b3", 95L, 99L))
      .toDF("b_id", "b_lo", "b_hi")
    val naive = a.crossJoin(b)
      .filter(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("a_id", "b_id")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // a long overlap spanning many buckets (a2×b2 at width 3) must still
    // emit exactly once — the canonical-bucket rule, not a dedup pass
    for (w <- Seq(3L, 16L, 1000L)) {
      val got = Ops.intervalJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi", w)
        .select("a_id", "b_id")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == naive, s"bucketWidth=$w: $got vs $naive")
    }
    assert(naive == Seq(("a1", "b1"), ("a2", "b1"), ("a2", "b2"), ("a3", "b2"),
      ("a4", "b2")))
  }

  test("jaroWinkler: textbook values, empty/null rules, boost threshold") {
    import graft.functions.FuzzyExprs.jaroWinkler
    val pairs = Seq(
      ("martha", "marhta"), ("dwayne", "duane"), ("abc", "abc"),
      ("", "abc"), ("", ""), ("aXXXXXXX", "aYYYYYYY"), ("ab", "ba"))
      .toDF("a", "b")
    val got = pairs.select(jaroWinkler(col("a"), col("b"))).as[Double]
      .collect().toSeq
    assert(math.abs(got(0) - 0.9611111111111111) < 1e-15) // jaro .944, prefix 3
    assert(math.abs(got(1) - 0.84) < 1e-15) // jaro .822, prefix 1
    assert(got(2) == 1.0)
    assert(got(3) == 0.0 && got(4) == 0.0, "either side empty -> 0 (DuckDB rule)")
    // jaro = (1/8 + 1/8 + 1)/3 = 0.41666..; prefix 1 but jaro <= 0.7: NO boost
    assert(math.abs(got(5) - (0.125 + 0.125 + 1.0) / 3.0) < 1e-15)
    // two chars, window max(2,2)/2-1 = 0: no cross-position match at all
    assert(got(6) == 0.0)
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(jaroWinkler(col("a"), col("b"))).collect()
    assert(withNull(0).isNullAt(0), "null input -> null, not 0")
  }

  test("jaroWinkler: interpreted eval matches codegen") {
    import graft.functions.JaroKernels
    import org.apache.spark.unsafe.types.UTF8String
    var seed = 99L
    def next(): Int = { seed = (seed * 6364136223846793005L + 1442695040888963407L); ((seed >>> 33) % 7).toInt }
    val strs = (1 to 60).map(_ => (1 to next() + 1).map(_ => ('a' + next()).toChar).mkString)
    val pairs = for (a <- strs.take(30); b <- strs.drop(30)) yield (a, b)
    val viaDf = pairs.toDF("a", "b")
      .select(graft.functions.FuzzyExprs.jaroWinkler(col("a"), col("b")))
      .as[Double].collect().toSeq
    val direct = pairs.map { case (a, b) =>
      JaroKernels.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b)) }
    assert(viaDf == direct)
  }

  test("tableDiff: added/removed/changed/unchanged with null-safe column counts") {
    import spark.implicits._
    val before = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, None: Option[String], 30.0)).toDF("k", "name", "bal")
    val after = Seq((1L, Some("a"), 10.0),              // unchanged
      (3L, Some("c"), 31.0),                            // null->value + bal: 2 cols
      (4L, Some("d"), 40.0)).toDF("k", "name", "bal")   // added; 2 removed
    val out = graft.operators.Ops.tableDiff(before, after, "k")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2))))).toMap
    assert(out(1L) == (("unchanged", Some(0L))))
    assert(out(2L) == (("removed", None)))
    assert(out(3L) == (("changed", Some(2L))))
    assert(out(4L) == (("added", None)))
  }

  test("keySkewReport: uniform keys score gini 0; a hot key moves every " +
    "share; null keys count") {
    import spark.implicits._
    val uniform = (1 to 12).map(i => s"k${i % 4}").toDF("k")
    val u = Ops.keySkewReport(uniform, "k").collect()(0)
    assert(u.getAs[Long]("n_rows") == 12 && u.getAs[Long]("n_keys") == 4)
    assert(u.getAs[Double]("gini") == 0.0 && u.getAs[Double]("max_share") == 0.25)
    // hot: one key holds 9 of 12 rows; a null key holds 1
    val hot = (Seq.fill(9)(Some("hot")) ++ Seq(Some("a"), Some("b"), None))
      .toDF("k")
    val h = Ops.keySkewReport(hot, "k").collect()(0)
    assert(h.getAs[Long]("n_keys") == 4 && h.getAs[Long]("max_count") == 9)
    assert(h.getAs[Double]("max_share") == 0.75 &&
      h.getAs[Double]("top10_share") == 1.0)
    // gini: counts asc (1,1,1,9) -> 2*(1+2+3+36)/(4*12) - 5/4 = 0.5
    assert(h.getAs[Double]("gini") == 0.5)
  }

  test("Validate.report: every rule type with planted violations; " +
    "non-null gating of range/regex checks") {
    import spark.implicits._
    import graft.operators.Validate
    val df = Seq(
      (Some(1L), Some(5.0), Some("ok"), "k1"),
      (Some(2L), Some(99.0), Some("ok"), "k2"),   // range violation
      (None, None, None, "k2"),                   // null id; nulls unchecked
      (Some(4L), Some(7.0), Some("BAD!"), "k3"))  // regex violation
      .toDF("id", "v", "s", "k")
    val got = Validate.report(df, Seq(
        Validate.NotNull("id"), Validate.InRange("v", 0.0, 50.0),
        Validate.Matches("s", "^[a-z]+$"), Validate.Unique(Seq("k"))))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(("not_null", "id")) == ((4L, 1L, false)))
    assert(got(("in_range", "v")) == ((3L, 1L, false)), "nulls not judged")
    assert(got(("matches", "s")) == ((3L, 1L, false)))
    // k2 collides twice -> 2 rows in violation
    assert(got(("unique", "k")) == ((4L, 2L, false)))
    val clean = Validate.report(df.filter(col("id") === 1L),
      Seq(Validate.NotNull("id"), Validate.Unique(Seq("k"))))
      .collect().map(_.getBoolean(4))
    assert(clean.forall(identity), "clean data passes every rule")
  }

  test("numericProfile: quantile_cont quartiles, decimal mean, null exclusion") {
    import spark.implicits._
    val df = (1 to 8).map(v => (Some(v.toDouble), if (v <= 4) Some(v * 10.0) else None))
      .toDF("a", "b")
    val got = Ops.numericProfile(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("n") == 8 && a.getAs[Double]("mean") == 4.5)
    assert(a.getAs[Double]("min") == 1.0 && a.getAs[Double]("max") == 8.0)
    // quantile_cont quartiles of 1..8 = 2.75 / 4.5 / 6.25
    assert(a.getAs[Double]("p25") == 2.75 && a.getAs[Double]("p50") == 4.5 &&
      a.getAs[Double]("p75") == 6.25)
    val b = got("b")
    assert(b.getAs[Long]("n") == 4 && b.getAs[Double]("mean") == 25.0 &&
      b.getAs[Double]("p50") == 25.0)
  }

  test("columnEntropy: constant -> 0, uniform/key-like -> ln n, nulls excluded") {
    import spark.implicits._
    val df = Seq(("a", Some(1L), "u1"), ("a", Some(1L), "u2"),
      ("a", Some(2L), "u3"), ("a", None, "u4")).toDF("const", "half", "key")
    val got = Ops.columnEntropy(df, Seq("const", "half", "key"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("const") == ((4L, 1L, 0.0)))
    // half: counts 2 and 1 over 3 non-null values
    val h = math.log(3.0) - (2.0 * math.log(2.0)) / 3.0
    assert(math.abs(got("half")._3 - h) < 1e-6 && got("half")._1 == 3L)
    assert(got("key") == ((4L, 4L, BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("skyline: dominated rows drop, frontier and both-dim ties survive") {
    // frontier: (5,1), (3,4), (1,9); dominated: (2,2) by (3,4), (3,3) by
    // (3,4) same-x, (1,9)-duplicate survives twice (tie on both dims)
    val df = Seq((1, 5, 1), (2, 3, 4), (3, 1, 9), (4, 2, 2), (5, 3, 3),
      (6, 1, 9)).toDF("id", "x", "y")
    val got = Ops.skyline(df, "x", "y").select("id").as[Int].collect().sorted
    assert(got.toSeq == Seq(1, 2, 3, 6))
  }

  test("fifoMatch: lots consumed in order, oversell leaves excess unmatched") {
    // part p: buy 10 units @ $1 (lot 1000c), buy 5 @ $2 (lot 1000c),
    // then sell 12 -> 10 from lot1 + 2 from lot2 = $14.00
    val df = Seq(
      ("p", 1, 10L, false, 1000L), ("p", 2, 5L, false, 1000L),
      ("p", 3, 12L, true, 0L),
      // part q: oversell - buy 3 @ $1, sell 20 -> only 3 match ($3)
      ("q", 1, 3L, false, 300L), ("q", 2, 20L, true, 0L)
    ).toDF("k", "seq", "q", "s", "cc")
    val got = Ops.fifoMatch(df, "k", Seq("seq"), col("q"), col("s"),
        col("cc"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("p") == ((2L, 12L, 12L, 14.0)), got("p").toString)
    assert(got("q") == ((1L, 3L, 20L, 3.0)), got("q").toString)
    // FIFO order matters: selling 10 must cost the FIRST lot's rate
    val one = Seq(("r", 1, 10L, false, 1000L), ("r", 2, 10L, false, 5000L),
      ("r", 3, 10L, true, 0L)).toDF("k", "seq", "q", "s", "cc")
    val r = Ops.fifoMatch(one, "k", Seq("seq"), col("q"),
      col("s"), col("cc")).collect()(0)
    assert(r.getDouble(4) == 10.0, s"LIFO leak: ${r.getDouble(4)}")
    // zero-qty rows drop up front: a 0-qty lot must not null the
    // per-unit price and silently vanish its neighbors' cogs
    val bad = Seq(("z", 1, 0L, false, 9999L), ("z", 2, 10L, false, 1000L),
      ("z", 4, 10L, true, 0L))
      .toDF("k", "seq", "q", "s", "cc")
    val z = Ops.fifoMatch(bad, "k", Seq("seq"), col("q"), col("s"),
      col("cc")).collect()(0)
    assert((z.getLong(1), z.getLong(2), z.getLong(3), z.getDouble(4)) ==
      ((1L, 10L, 10L, 10.0)), s"qty=0 must not distort cost basis: $z")
    // NEGATIVE qty fails loudly — a return/correction feed must not yield
    // a clean-looking cost basis by silent row drop
    val neg = Seq(("z", 1, 10L, false, 1000L), ("z", 2, -5L, true, 0L))
      .toDF("k", "seq", "q", "s", "cc")
    val ex = intercept[Exception] {
      Ops.fifoMatch(neg, "k", Seq("seq"), col("q"), col("s"),
        col("cc")).collect()
    }
    assert(ex.getMessage != null &&
      ex.toString.contains("negative quantity") ||
      Option(ex.getCause).exists(_.toString.contains("negative quantity")),
      s"expected the negative-quantity raise, got: $ex")
  }

  test("monotonicAudit: counts adjacent violations, strict mode flags ties") {
    val df = Seq(("a", 1, 10), ("a", 2, 20), ("a", 3, 15), ("a", 4, 15),
      ("b", 1, 5), ("b", 2, 5)).toDF("k", "seq", "v")
    val lax = Ops.monotonicAudit(df, Seq("k"), Seq("seq"), "v").collect()(0)
    // a: 20->15 violates; 15->15 fine. b: clean
    assert(lax.getLong(0) == 2 && lax.getLong(1) == 6)
    assert(lax.getLong(2) == 1 && lax.getLong(3) == 1)
    val strict = Ops.monotonicAudit(df, Seq("k"), Seq("seq"), "v",
      strict = true).collect()(0)
    // ties now count: a's 15->15 and b's 5->5
    assert(strict.getLong(2) == 3 && strict.getLong(3) == 2)
  }

  test("columnFingerprints: copied columns collide, different ones do not") {
    val df = Seq((1L, "x", 7, 7), (2L, "y", 8, 8), (3L, null, 9, 9))
      .toDF("id", "s", "a", "b")
    val got = Ops.columnFingerprints(df, col("id"), Seq("s", "a", "b"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got("a") == got("b"), "identical content must fingerprint equal")
    assert(got("s")._2 != got("a")._2)
    assert(got("s")._1 == 2 && got("a")._1 == 3) // null counted out
  }

  test("skyline: single row and all-equal inputs survive whole") {
    val one = Seq((1, 7, 7)).toDF("id", "x", "y")
    assert(Ops.skyline(one, "x", "y").count() == 1)
    val eq = Seq((1, 2, 2), (2, 2, 2), (3, 2, 2)).toDF("id", "x", "y")
    assert(Ops.skyline(eq, "x", "y").count() == 3)
  }

  test("skyline: the x-domain gate raises loudly above the limit, " +
    "still answers at it") {
    // 6 distinct x values against a limit of 5 -> the bounded-domain
    // contract must refuse BEFORE the keyless sweep window runs
    val six = (1 to 6).map(i => (i, i, i)).toDF("id", "x", "y")
    def deep(t: Throwable): String =
      if (t == null) "" else t.toString + "|" + deep(t.getCause)
    val ex = intercept[Exception] {
      Ops.skyline(six, "x", "y", xDomainLimit = 5L).collect()
    }
    assert(deep(ex).contains("distinct x values exceed 5") &&
      deep(ex).contains("bucket or round"), deep(ex))
    // AT the limit it still answers (identity guard): (6,6) dominates all
    assert(Ops.skyline(six, "x", "y", xDomainLimit = 6L).count() == 1)
  }

  test("DomainGate: a COLUMN-FREE consumer (count) cannot prune the gate") {
    // ColumnPruning drops every guarded projection under a count(lit(1))
    // consumer; the raise-bearing filter leg must still fire (the round-14
    // ADVICE latent bypass, closed round 15)
    import org.apache.spark.sql.functions.{concat, lit}
    def deep(t: Throwable): String =
      if (t == null) "" else t.toString + "|" + deep(t.getCause)
    val rel = spark.range(11L).select(col("id").as("v"))
    val gated = graft.operators.DomainGate(rel, 10L, nv =>
      concat(lit("test gate: "), nv.cast("string"), lit(" cells")))
    val ex = intercept[Exception] { gated.count() }
    assert(deep(ex).contains("test gate: 11 cells"), deep(ex))
    // below the limit the count passes through untouched
    val ok = graft.operators.DomainGate(rel, 11L, nv => lit("never"))
    assert(ok.count() == 11L)
  }
  test("saltedJoin: exactly the plain join, salt column gone") {
    import spark.implicits._
    // a hot key (1) with many probe rows, a dup build row for key 2
    val probe = Seq((1L, "p1"), (1L, "p2"), (1L, "p3"), (2L, "p4"),
      (3L, "p5")).toDF("k", "pv")
    val build = Seq((1L, "b1"), (2L, "b2"), (2L, "b3")).toDF("k", "bv")
    val salted = Ops.saltedJoin(probe, build, Seq("k"),
      org.apache.spark.sql.functions.xxhash64(col("pv")), saltBuckets = 4)
    val plain = probe.join(build, Seq("k"))
    assert(salted.columns.toSeq == plain.columns.toSeq)
    val sKeys = salted.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val pKeys = plain.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(sKeys.toSeq == pKeys.toSeq)   // multiset identity, dup rows kept
    // a null salt expression must not drop the row (pmod(null) -> null
    // would silently anti-join it; the coalesce routes it to bucket 0)
    val probeN = Seq((1L, Some("p1")), (1L, Option.empty[String]))
      .toDF("k", "pv")
    val saltedN = Ops.saltedJoin(probeN, build, Seq("k"),
      org.apache.spark.sql.functions.length(col("pv")), saltBuckets = 4)
    assert(saltedN.count() == probeN.join(build, Seq("k")).count(),
      "null-salt probe row lost")
  }

  test("weightedQuantiles: integer crossing, exact boundary, q = 1 maxes") {
    import spark.implicits._
    val df = Seq(("g", 1L, 1L), ("g", 2L, 3L), ("g", 3L, 1L),
      ("h", 10L, 1L), ("h", 20L, 1L)).toDF("grp", "v", "w")
    val r = Ops.weightedQuantiles(df, Seq("grp"), "v", col("w"),
        qs = Seq(1 -> 2, 9 -> 10, 1 -> 1))
      .collect().map(x => (x.getString(0), x.getInt(1), x.getInt(2)) ->
        (x.getLong(3), x.getLong(4))).toMap
    assert(r(("g", 1, 2)) == ((2L, 5L)))   // cum(2)=4, 4·2 >= 5
    assert(r(("g", 9, 10)) == ((3L, 5L)))  // cum(2)=40 < 45 -> 3
    assert(r(("g", 1, 1)) == ((3L, 5L)))
    assert(r(("h", 1, 2)) == ((10L, 2L)))  // exact boundary: 1·2 == 1·2
  }
}
