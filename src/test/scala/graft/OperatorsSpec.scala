package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Operators

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latestWins keeps exactly the newest row per key with tie-break") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), "old"),
      (1L, ts("2024-02-01 00:00:00"), "new"),
      (2L, ts("2024-01-01 00:00:00"), "only"),
      (3L, ts("2024-01-01 00:00:00"), "a"),
      (3L, ts("2024-01-01 00:00:00"), "b") // same time: highest payload wins via ordering
    ).toDF("k", "t", "v")
    val out = Operators.latestWins(df, Seq(col("k")), Seq(col("t").desc, col("v").desc))
      .orderBy("k").as[(Long, Timestamp, String)].collect()
    assert(out.map(_._3).toSeq == Seq("new", "only", "b"))
  }

  test("topKPerGroup returns k rows per group, deterministically") {
    val df = Seq((1, 10), (1, 20), (1, 30), (2, 5), (2, 5)).toDF("g", "v")
    val out = Operators.topKPerGroup(df, Seq(col("g")), Seq(col("v").desc, col("v")), 2)
      .orderBy("g", "rn").select("g", "v", "rn").as[(Int, Int, Int)].collect()
    assert(out.toSeq == Seq((1, 30, 1), (1, 20, 2), (2, 5, 1), (2, 5, 2)))
  }

  test("asOfJoin carries the latest strictly-prior right value") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3")
    ).toDF("user_id", "t", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 200.0),
      (1L, ts("2024-01-01 12:00:00"), 300.0), // equal to p2's time: must NOT match
      (2L, ts("2024-01-01 09:30:00"), 400.0)  // after p3: must NOT match
    ).toDF("user_id", "rt", "rv")
    val out = Operators.asOfJoin(left, right, "user_id", "t", "rt", Seq("rv"))
      .orderBy("t").select("name", "asof_rv").as[(String, Option[Double])].collect()
    assert(out.toSeq == Seq(("p3", None), ("p1", Some(100.0)), ("p2", Some(200.0))))
  }

  test("sessionize splits on gaps greater than the threshold") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:10:00")), // same session (10 min)
      (1L, ts("2024-01-01 01:00:00")), // gap 50 min > 30 → new session
      (2L, ts("2024-01-01 00:00:00"))
    ).toDF("user_id", "ts")
    val out = Operators.sessionize(df, "user_id", "ts", 1800)
      .orderBy("user_id", "ts").select("user_id", "session_id")
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 0L), (1L, 0L), (1L, 1L), (2L, 0L)))
  }

  test("asOfJoinNative (custom SparkPlan) matches the composed asOfJoin") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3")
    ).toDF("user_id", "t", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 200.0),
      (1L, ts("2024-01-01 12:00:00"), 300.0),
      (2L, ts("2024-01-01 09:30:00"), 400.0)
    ).toDF("user_id", "rt", "rv")
    val native = Operators.asOfJoinNative(left, right, "user_id", "t", "rt", Seq("rv"))
      .orderBy("t").select("name", "asof_rv").as[(String, Option[Double])].collect()
    assert(native.toSeq == Seq(("p3", None), ("p1", Some(100.0)), ("p2", Some(200.0))))
    assert(Operators.asOfJoinNative(left, right, "user_id", "t", "rt", Seq("rv"))
      .queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "custom physical operator must appear in the plan")

    // larger randomized cross-check against the composed formulation
    val rnd = new scala.util.Random(7)
    val base = 1700000000000L
    val lBig = (0 until 400).map(i =>
      (rnd.nextInt(10).toLong, new Timestamp(base + rnd.nextInt(100000) * 1000L), s"L$i"))
      .toDF("user_id", "t", "name")
    val rBig = (0 until 400).map(i =>
      (rnd.nextInt(10).toLong, new Timestamp(base + rnd.nextInt(100000) * 1000L), rnd.nextInt(1000).toDouble))
      .toDF("user_id", "rt", "rv")
    val a = Operators.asOfJoinNative(lBig, rBig, "user_id", "t", "rt", Seq("rv"))
      .select("user_id", "t", "name", "asof_rv")
      .as[(Long, Timestamp, String, Option[Double])].collect().sortBy(r => (r._1, r._2.getTime, r._3))
    val b = Operators.asOfJoin(lBig, rBig, "user_id", "t", "rt", Seq("rv"))
      .select("user_id", "t", "name", "asof_rv")
      .as[(Long, Timestamp, String, Option[Double])].collect().sortBy(r => (r._1, r._2.getTime, r._3))
    assert(a.toSeq == b.toSeq)
  }

  test("asOfJoin carries ALL payload columns from the SAME right row, including its genuine NULLs") {
    // The most recent prior right row has rv1 = NULL: per-column
    // last(ignoreNulls) would resurrect the older 100.0 for rv1 while
    // taking rv2 from the newer row — mixing two right rows. The
    // struct carry must deliver (NULL, 20.0) from the newest row.
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "p1")).toDF("user_id", "t", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), Some(100.0), Some(10.0)),
      (1L, ts("2024-01-01 11:00:00"), None, Some(20.0))
    ).toDF("user_id", "rt", "rv1", "rv2")
    val out = Operators.asOfJoin(left, right, "user_id", "t", "rt", Seq("rv1", "rv2"))
      .select("asof_rv1", "asof_rv2").as[(Option[Double], Option[Double])].collect()
    assert(out.toSeq == Seq((None, Some(20.0))))
    val native = Operators.asOfJoinNative(left, right, "user_id", "t", "rt", Seq("rv1", "rv2"))
      .select("asof_rv1", "asof_rv2").as[(Option[Double], Option[Double])].collect()
    assert(native.toSeq == Seq((None, Some(20.0))))
  }

  test("migrateWithDeletes: tombstones remove keys, delete-then-reinsert resolves by recency") {
    val current = Seq(
      (1L, ts("2024-01-01 00:00:00"), "v1", false),
      (2L, ts("2024-01-01 00:00:00"), "v1", false),
      (3L, ts("2024-01-01 00:00:00"), "v1", false)).toDF("k", "t", "v", "deleted")
    val updates = Seq(
      (1L, ts("2024-02-01 00:00:00"), "del", true),   // delete key 1
      (2L, ts("2024-02-01 00:00:00"), "del", true),   // delete key 2 ...
      (2L, ts("2024-03-01 00:00:00"), "v2", false),   // ... then reinsert: alive as v2
      (3L, ts("2023-12-01 00:00:00"), "del", true)    // STALE delete: older than current → ignored
    ).toDF("k", "t", "v", "deleted")
    val out = Operators.migrateWithDeletes(current, updates,
        Seq(col("k")), Seq(col("t").desc, col("v").desc))
      .orderBy("k").select("k", "v").as[(Long, String)].collect()
    assert(out.toSeq == Seq((2L, "v2"), (3L, "v1")))
  }

  test("overlappingIntervals reports each overlapping pair once, per key") {
    val df = Seq(
      ("math", 1L, 10, 20),
      ("math", 2L, 15, 25),   // overlaps 1
      ("math", 3L, 21, 30),   // overlaps 2 (21<=25), NOT 1 (21>20)
      ("ela", 4L, 10, 20),    // different key: no cross-key pair
      ("ela", 5L, 30, 40)     // disjoint
    ).toDF("assessment", "norms_id", "start_d", "end_d")
    val out = Operators.overlappingIntervals(df, "assessment", "norms_id", "start_d", "end_d")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 3L)))
  }

  test("auditDiff emits old/new pairs only for real modifications") {
    val df = Seq(
      (1L, 1, 100.0, "ok"),
      (1L, 2, 100.0, "ok"),     // nothing changed → no row
      (1L, 3, 150.0, "ok"),     // price changed
      (1L, 4, 150.0, "flagged") // status changed
    ).toDF("k", "ver", "price", "status")
    val out = Operators.auditDiff(df, Seq("k"), Seq("ver"), Seq("price", "status"))
      .orderBy("ver")
      .select("ver", "old_price", "new_price", "old_status", "new_status")
      .as[(Int, Option[Double], Double, String, String)].collect()
    assert(out.toSeq == Seq(
      (3, Some(100.0), 150.0, "ok", "ok"),
      (4, Some(150.0), 150.0, "ok", "flagged")))
  }

  test("groupReplace classifies added/removed/kept and incoming file defines the survivors") {
    val current = Seq(("g1", 1L), ("g1", 2L), ("g2", 5L)).toDF("grp", "member")
    val incoming = Seq(("g1", 2L), ("g1", 3L)).toDF("grp", "member")
    val out = Operators.groupReplace(current, incoming, "grp", "member")
    val byAction = out.select("grp", "member", "action")
      .as[(String, Long, String)].collect().toSet
    // replace is per-group: g2 is absent from the incoming file, so it
    // is untouched (not wiped, not reported)
    assert(byAction == Set(
      ("g1", 1L, "removed"), ("g1", 2L, "kept"), ("g1", 3L, "added")))
    val survivors = out.filter(col("action") =!= "removed")
      .select("grp", "member").as[(String, Long)].collect().toSet
    assert(survivors == Set(("g1", 2L), ("g1", 3L)))
  }

  test("migrate applies updates with latest-wins over the union") {
    val current = Seq((1L, ts("2024-01-01 00:00:00"), "v1"),
                      (2L, ts("2024-01-01 00:00:00"), "v1")).toDF("k", "t", "v")
    val updates = Seq((1L, ts("2024-02-01 00:00:00"), "v2"), // replaces key 1
                      (3L, ts("2024-01-15 00:00:00"), "v1")) // new key 3
      .toDF("k", "t", "v")
    val out = Operators.migrate(current, updates,
        Seq(col("k")), Seq(col("t").desc, col("v").desc))
      .orderBy("k").as[(Long, Timestamp, String)].collect()
    assert(out.map(r => (r._1, r._3)).toSeq == Seq((1L, "v2"), (2L, "v1"), (3L, "v1")))
  }

  test("saltedSumCount equals direct groupBy aggregation") {
    val df = (1 to 1000).map(i => (i % 3, i.toDouble)).toDF("k", "v")
    val salted = Operators.saltedSumCount(df,
        Seq(col("k")), QUtil.money(col("v")), buckets = 8)
      .withColumn("sum_value", col("sum_value").cast("double"))
      .orderBy("k").as[(Int, Double, Long)].collect()
    val direct = df.groupBy(col("k"))
      .agg(QUtil.moneySum(col("v")).as("s"), count(lit(1)).as("c"))
      .orderBy("k").as[(Int, Double, Long)].collect()
    assert(salted.toSeq == direct.toSeq)
  }

  test("rangeLookup assigns each fact to its [lo, hi) bound") {
    val facts = Seq(("a", 5.0), ("b", 50.0), ("c", 149.9)).toDF("id", "v")
    val bounds = Seq(("low", 0.0, 50.0), ("high", 50.0, 150.0)).toDF("tier", "lo", "hi")
    val out = Operators.rangeLookup(facts, bounds, col("v"), col("lo"), col("hi"))
      .orderBy("id").select("id", "tier").as[(String, String)].collect()
    assert(out.toSeq == Seq(("a", "low"), ("b", "high"), ("c", "high")))
  }

  test("connectedComponents: chains close transitively, disjoint clusters stay apart") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 10-11,
    // triangle 20-21-22 with a redundant edge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val out = Operators.connectedComponents(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("ancestorClosure: deep chain closes in O(log depth) rounds; forests stay apart") {
    // path 1→2→3→…→33 (parent = node+1, root 33): depth 32 forces
    // several doubling rounds; plus a disjoint 2-node tree 100→101
    // and an edge whose parent (999) is not a node — the chain must
    // stop at the unknown pointer, not invent ancestors for it
    val chain = (1L to 32L).map(i => (i, Some(i + 1))) :+ (33L, None) :+
      (100L, Some(101L)) :+ (101L, None) :+ (200L, Some(999L))
    val edges = chain.toDF("node", "parent")
    val out = Operators.ancestorClosure(edges, "node", "parent")
      .as[(Long, Long)].collect().toSet
    val expected =
      (for (n <- 1L to 33L; a <- n to 33L) yield (n, a)).toSet ++
        Set((100L, 100L), (100L, 101L), (101L, 101L),
          (200L, 200L), (200L, 999L))
    assert(out == expected,
      s"missing=${expected.diff(out).take(5)} extra=${out.diff(expected).take(5)}")
  }

  test("ancestorClosure: root-only forest is the identity closure") {
    val edges = Seq((1L, None: Option[Long]), (2L, None)).toDF("node", "parent")
    val out = Operators.ancestorClosure(edges, "node", "parent")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 1L), (2L, 2L)))
  }

  test("connectedComponents: empty edge list returns empty, not NPE (clean corpus)") {
    // sum() over an empty frame is null — the convergence check must
    // treat that as converged, not feed it to BigDecimal
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Operators.connectedComponents(edges, "a", "b").count() == 0)
  }

  test("connectedComponents: driver union-find equals the distributed fixpoint (random graphs)") {
    // the r17 small-graph gate routes every sub-gate graph to
    // union-find; pin it label-for-label against the distributed
    // propagation on random graphs (chains force multi-round
    // propagation; duplicate and self edges exercise the degenerate
    // paths)
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(40)
      val edges = (1 to n).map { _ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      } ++ (1 to 5).map(i => (100L + i, 101L + i)) // a chain, diameter 5
      val df = edges.toDF("a", "b")
      val local = Operators.connectedComponents(df, "a", "b")
        .orderBy("id").as[(Long, Long)].collect().toSeq
      val und = df.select(col("a"), col("b"))
        .union(df.select(col("b"), col("a"))).toDF("src", "dst").cache()
      val dist = Operators.ccDistributed(und)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      und.unpersist()
      assert(local == dist, s"trial $trial: driver fit diverged from distributed")
    }
  }

  test("connectedComponents: driver gate routes null ids exactly as the distributed path") {
    def cc(edges: Seq[(Option[Long], Option[Long])]): Unit = {
      val df = edges.toDF("a", "b")
      val local = Operators.connectedComponents(df, "a", "b")
        .as[(Option[Long], Option[Long])].collect().toSeq.sorted
      val und = df.select(col("a"), col("b"))
        .union(df.select(col("b"), col("a"))).toDF("src", "dst").cache()
      val dist = Operators.ccDistributed(und)
        .as[(Option[Long], Option[Long])].collect().toSeq.sorted
      und.unpersist()
      assert(local == dist, s"edges $edges")
    }
    // nulls next to two components (the null id takes the lesser
    // label), a vertex seen only beside a null, and a null-null edge
    cc(Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)), (Some(5L), Some(6L)),
      (Some(9L), None), (None, None), (Some(10L), Some(11L))))
    // only null-null edges: the null id is its own, null, label
    cc(Seq((None, None), (Some(3L), Some(4L))))
  }

  test("validateNormsImport reports every Norms.md:32-36 violation class, one row each") {
    // (assessment_id, line_no, percentile_rank, score, subject)
    val file = Seq(
      // table A: fully valid (3 ranks, increasing, contiguous)
      ("A", 1L, 10, 100.0, "M"), ("A", 2L, 25, 150.0, "M"), ("A", 3L, 50, 150.0, "M"),
      // table B: rank repeats on line 5, score drops on line 6,
      // identity field flips on line 6
      ("B", 4L, 10, 100.0, "E"), ("B", 5L, 10, 120.0, "E"), ("B", 6L, 30, 90.0, "X"),
      // table C: only two ranks
      ("C", 7L, 10, 50.0, "M"), ("C", 8L, 20, 60.0, "M"),
      // table D: split around table C's block (lines 9 and 12)
      ("D", 9L, 5, 10.0, "S"), ("D", 12L, 15, 20.0, "S"),
      ("C", 10L, 30, 70.0, "M"), ("C", 11L, 40, 80.0, "M"))
      .toDF("assessment_id", "line_no", "percentile_rank", "score", "subject")
    val out = Operators.validateNormsImport(file, Seq("assessment_id"),
        "line_no", Seq("subject"), "percentile_rank", "score")
      .as[(String, Long, String)].collect().toSet
    assert(out == Set(
      ("B", 5L, "rank_not_increasing"),
      ("B", 6L, "score_decreasing"),
      ("B", 6L, "identity_mismatch"),
      ("C", 7L, "table_not_contiguous"), // C's lines 7,8,10,11 straddle D's 9
      ("D", 9L, "too_few_ranks"),
      ("D", 9L, "table_not_contiguous")),
      s"got $out")
    // a fully valid file yields an empty report — the load gate
    val clean = Seq(("A", 1L, 10, 1.0, "M"), ("A", 2L, 20, 2.0, "M"),
      ("A", 3L, 30, 2.0, "M")).toDF("assessment_id", "line_no",
      "percentile_rank", "score", "subject")
    assert(Operators.validateNormsImport(clean, Seq("assessment_id"),
      "line_no", Seq("subject"), "percentile_rank", "score").count() == 0)
  }

  test("validateNormsImport: a NULL rank is flagged and does not disable the NEXT row's checks") {
    val file = Seq(
      ("A", 1L, Some(10), Some(100.0), "M"),
      ("A", 2L, None, Some(120.0), "M"),     // missing required rank
      ("A", 3L, Some(50), Some(90.0), "X"))  // score drop + identity flip AFTER the bad row
      .toDF("assessment_id", "line_no", "percentile_rank", "score", "subject")
    val out = Operators.validateNormsImport(file, Seq("assessment_id"),
        "line_no", Seq("subject"), "percentile_rank", "score")
      .as[(String, Long, String)].collect().toSet
    assert(out.contains(("A", 2L, "missing_required_field")),
      s"NULL rank must be its own violation: $out")
    // the row AFTER the malformed one still gets validated — a
    // lag(rank)-based sentinel would skip both of these
    assert(out.contains(("A", 3L, "score_decreasing")), s"got $out")
    assert(out.contains(("A", 3L, "identity_mismatch")), s"got $out")
  }
}
