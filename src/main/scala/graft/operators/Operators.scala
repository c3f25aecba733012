package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composable `DataFrame => DataFrame` operators for the RDW-shaped
  * semantics that Spark has no single built-in for (SURVEY.md §3).
  * Each is declarative (window/groupBy based) so Catalyst keeps partial
  * aggregation, pushdown and whole-stage codegen; none collects to the
  * driver.
  */
object Operators {

  /** Latest-wins merge: RDW re-submitted exams replace prior results
    * (reference: /root/reference/docs/Runbook.md "migrate",
    * docs/Norms.md import rules "Update: … replaces"). Keeps exactly
    * one row per natural key — the newest by `ordering` with a
    * deterministic tie-break the caller encodes in `ordering`.
    *
    * Scale: one shuffle on the natural key; at 100 TB this is the
    * minimal possible movement for a keyed dedup (same shuffle a
    * groupBy would pay). No driver-side state.
    */
  def latestWins(df: DataFrame, keys: Seq[Column], ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Top-k per group with a deterministic tie-break (RDW "top
    * performers per org"). Window row_number, never a driver-side
    * sort — scales to any group count; k rows per group survive the
    * single shuffle.
    */
  def topKPerGroup(df: DataFrame, keys: Seq[Column], ordering: Seq[Column],
                   k: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(ordering: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** As-of join: for each left row, the most recent right row with
    * rightTime strictly before leftTime, same key. Implemented as
    * union + single sort-window pass (one shuffle on the key), NOT a
    * join — a range join would explode at scale, and the union trick
    * is the standard streaming/CDC formulation.
    *
    * `rightCols` are the right-side payload columns carried to the
    * matched left rows (null when no prior right row exists).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightCols: Seq[String]): DataFrame = {
    // All payload columns travel in ONE struct (non-null for every
    // right row, even when every field inside is null) so a single
    // last(ignoreNulls) carries the whole most-recent right row.
    // Carrying each column independently would mix columns from
    // different right rows when a payload value is legitimately NULL.
    val payloadSchema = org.apache.spark.sql.types.StructType(
      rightCols.map(c => right.schema(c)))
    val leftTagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__isRight", lit(0))
      .select(Seq(col(key), col("__t"), col("__isRight")) ++
        left.columns.filter(_ != key).map(c => col(c)) :+
        lit(null).cast(payloadSchema).as("__r"): _*)
    val rightTagged = right
      .withColumn("__t", col(rightTime))
      .withColumn("__isRight", lit(1))
      .select(Seq(col(key), col("__t"), col("__isRight")) ++
        left.columns.filter(_ != key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightCols.map(c => col(c).as(c)): _*).as("__r"): _*)
    // Right rows sort AFTER left rows at equal timestamps (__isRight
    // desc? no: asc puts 0 first) — so an equal-time right row is NOT
    // visible to the left row: strictly-before semantics.
    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__isRight"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftTagged.unionByName(rightTagged)
      .withColumn("__last", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__isRight") === 0)
      .select(Seq(col(key)) ++
        left.columns.filter(_ != key).map(col) ++
        rightCols.map(c => col("__last").getField(c).as(s"asof_$c")): _*)
  }

  /** As-of join via the custom sort-merge physical operator
    * ([[graft.plans.AsOfJoinExec]]) — same semantics as [[asOfJoin]]
    * (strictly-prior right row per key carried as `asof_<col>`), but a
    * dedicated merge pass instead of union+window: no null-padded union
    * rows through the shuffle, O(1) state per key. Registers the
    * planner strategy on the session if needed.
    */
  def asOfJoinNative(left: DataFrame, right: DataFrame, key: String,
                     leftTime: String, rightTime: String,
                     rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftbridge.SqlBridge
    val spark = left.sparkSession
    SqlBridge.registerGraftStrategies(spark)
    val lPlan = left.queryExecution.analyzed
    // Re-alias the right side so its output attribute ids are fresh:
    // when both inputs derive from the same source (a self as-of
    // join), DeduplicateRelations rewrites the right subtree's ids but
    // cannot rewrite the custom node's key/time/payload expressions —
    // the alias layer keeps our references stable.
    val rPlan = right.select(right.columns.map(c =>
      right.col(c).as(c)).toIndexedSeq: _*).queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val payload = rightCols.map(c => attr(rPlan, c))
    val payloadOut = payload.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    SqlBridge.ofRows(spark, graft.plans.AsOfJoinPlan(
      lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      payload, payloadOut))
  }

  /** Gap-based sessionization: new session when the gap to the previous
    * event for the same key exceeds `gapSeconds`. lag + running sum of
    * session-start flags — one shuffle on the key, linear per
    * partition, the canonical scalable formulation.
    */
  def sessionize(df: DataFrame, key: String, time: String, gapSeconds: Long,
                 sessionCol: String = "session_id"): DataFrame = {
    val order = Window.partitionBy(col(key)).orderBy(col(time))
    val run = Window.partitionBy(col(key)).orderBy(col(time))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(col(time), 1).over(order))
      .withColumn("__new", when(col("__prev").isNull, lit(0))
        .when(unix_micros(col(time)) - unix_micros(col("__prev")) > gapSeconds * 1000000L, lit(1))
        .otherwise(lit(0)))
      .withColumn(sessionCol, sum(col("__new")).over(run))
      .drop("__prev", "__new")
  }

  /** Range join against a small bounds table (RDW date-effective norms
    * lookup — reference /root/reference/docs/Norms.md:24-28, the
    * percentile_rank/score table with "minimum inclusive score for
    * percentile rank"). The bounds side is broadcast so the big side
    * never shuffles; Spark plans a BroadcastNestedLoopJoin which at
    * 1000 executors is a map-side-only pass over the fact table.
    */
  def rangeLookup(facts: DataFrame, bounds: DataFrame, value: Column,
                  lo: Column, hi: Column): DataFrame =
    facts.join(broadcast(bounds), value >= lo && value < hi)

  /** Salted two-phase aggregation for skewed keys: phase 1 aggregates
    * on (key, salt) — spreading one hot key over `buckets` reducers —
    * phase 2 combines the partials per key. Costs one extra (small)
    * shuffle, wins when a single key would otherwise serialize a
    * reducer. Use for algebraic aggregates only (sum/count/min/max);
    * AQE's skew-join split handles the join-side equivalent.
    *
    * The exact-decimal policy (QUtil.money) makes the two-phase sum
    * bit-identical to the single-phase one.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[Column], value: Column,
                     buckets: Int): DataFrame = {
    val salted = df
      .withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
    salted
      .groupBy(keys: _*)
      .agg(sum(col("__psum")).as("sum_value"), sum(col("__pcnt")).as("cnt"))
  }

  /** Incremental migrate: apply an updates batch onto the current
    * latest-state projection, natural key + recency ordering deciding
    * the survivor (reference /root/reference/docs/Architecture.md
    * "Migrate Reporting Service" — keeps the reporting mart up to date
    * with warehouse changes; docs/Norms.md:30 "Update: Loading a
    * percentile table with the same unique identifier replaces the
    * existing table").
    *
    * Scale: union is free (no shuffle); the latest-wins window is one
    * shuffle on the natural key. Combined with
    * [[graft.sources.Ingest.writePartitioned]]'s dynamic overwrite,
    * only partitions containing updated keys rewrite.
    */
  def migrate(current: DataFrame, updates: DataFrame,
              keys: Seq[Column], ordering: Seq[Column]): DataFrame =
    latestWins(current.unionByName(updates), keys, ordering)

  /** Soft-delete-aware migrate: RDW bulk-deletes exams by marking
    * `deleted = 1` in the warehouse and letting migrate remove them
    * from the reporting marts (reference
    * /root/reference/docs/Runbook.BulkDeleteExams.md:32-33,104 —
    * "the exams are soft deleted … migrate propagates the change").
    * Latest-wins runs across upserts AND tombstones — so a
    * delete-then-reinsert ordering resolves correctly by recency —
    * and only then are surviving tombstones dropped. Filtering the
    * deletes BEFORE the merge would resurrect the previous version,
    * which is exactly the bug this operator exists to prevent.
    *
    * Scale: identical movement to [[migrate]] — one shuffle on the
    * natural key; the tombstone filter is a map-side post-pass.
    */
  def migrateWithDeletes(current: DataFrame, updates: DataFrame,
                         keys: Seq[Column], ordering: Seq[Column],
                         deletedCol: String = "deleted"): DataFrame =
    latestWins(current.unionByName(updates), keys, ordering)
      .filter(!coalesce(col(deletedCol), lit(false)))
      .drop(deletedCol)

  /** Norms-import structural validation (reference
    * /root/reference/docs/Norms.md:32-36): within each percentile
    * table (the `tableKeys` identifier), in file order (`lineNo`):
    *
    *  - `rank_not_increasing` — `percentile_rank` must be strictly
    *    greater than the previous row's (Norms.md:36 "Order");
    *  - `score_decreasing` — `score` must be greater or equal to the
    *    previous row's (Norms.md:36);
    *  - `identity_mismatch` — a rank row's identity fields must match
    *    the table's identity row, i.e. its first file row
    *    (Norms.md:35 "The identity fields must match the identity
    *    row");
    *  - `too_few_ranks` — at least three percentile ranks per table
    *    (Norms.md:34), reported on the table's first line;
    *  - `table_not_contiguous` — after a table's rank rows, the same
    *    table id may not reappear later in the file (Norms.md:32),
    *    detected as a gap in the table's line range and reported on
    *    its first line.
    *
    * Emits ONE ROW PER VIOLATION — the "attempt to evaluate the
    * entire import request and report all validation errors"
    * contract (Norms.md:37; the caller gates the whole load on the
    * report being empty: "No percentile tables are loaded if there
    * are any errors").
    *
    * Scale: every check reads from ONE window partitioned by the
    * table id (lag, first_value, and unbounded count/min/max share
    * the sort) — a single shuffle over the import file, which is
    * small by construction (norms CSVs are per-assessment tables).
    */
  def validateNormsImport(file: DataFrame, tableKeys: Seq[String],
                          lineNo: String, identityFields: Seq[String],
                          rankCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(tableKeys.map(col): _*).orderBy(col(lineNo))
    val wAll = Window.partitionBy(tableKeys.map(col): _*)
    val idMismatch = identityFields
      .map(f => col(f) =!= first(col(f)).over(w))
      .reduceOption(_ || _).getOrElse(lit(false))
    // window columns materialize BEFORE the explode — the analyzer
    // cannot extract window expressions nested inside explode/filter.
    // The "not the first row" sentinel is lag over the NON-NULL order
    // key (lineNo): lag(rankCol) would go NULL whenever the PREVIOUS
    // row's rank is missing, silently disabling the order and identity
    // checks on the row after a malformed one.
    val flagged = file
      .withColumn("_has_prev", lag(col(lineNo), 1).over(w).isNotNull)
      .withColumn("_prev_pr", lag(col(rankCol), 1).over(w))
      .withColumn("_prev_sc", lag(col(scoreCol), 1).over(w))
      .withColumn("_id_bad", idMismatch)
      .withColumn("_tbl_min", min(col(lineNo)).over(wAll))
      .withColumn("_tbl_max", max(col(lineNo)).over(wAll))
      .withColumn("_tbl_cnt", count(lit(1)).over(wAll))
    val checks = array(
      // required on every row, identity and rank alike (Norms.md:24-25)
      when(col(rankCol).isNull || col(scoreCol).isNull,
        lit("missing_required_field")),
      when(col("_has_prev") && col("_prev_pr").isNotNull &&
        col(rankCol) <= col("_prev_pr"), lit("rank_not_increasing")),
      when(col("_has_prev") && col("_prev_sc").isNotNull &&
        col(scoreCol) < col("_prev_sc"), lit("score_decreasing")),
      when(col("_has_prev") && col("_id_bad"), lit("identity_mismatch")),
      when(col(lineNo) === col("_tbl_min") && col("_tbl_cnt") < 3,
        lit("too_few_ranks")),
      when(col(lineNo) === col("_tbl_min") &&
        col("_tbl_max") - col("_tbl_min") + 1 =!= col("_tbl_cnt"),
        lit("table_not_contiguous")))
    flagged
      .withColumn("violation", explode(filter(checks, _.isNotNull)))
      .select(tableKeys.map(col) :+ col(lineNo) :+ col("violation"): _*)
  }

  /** Interval-overlap detection (RDW norms load validation: loading a
    * percentile table whose [start_date, end_date] overlaps an
    * existing table for the same assessment is a validation error —
    * reference /root/reference/docs/Norms.md:31 "the date ranges for
    * a given assessment may not overlap"). Returns the offending
    * pairs. Self-join on the entity key with the standard interval
    * intersection predicate `a.start <= b.end AND b.start <= a.end`;
    * `a.id < b.id` keeps each pair once.
    *
    * Scale: the join key is the entity id, so fan-out per key is
    * bounded by versions-per-entity (small by construction — norms
    * tables per assessment number in the tens). No cartesian.
    */
  def overlappingIntervals(df: DataFrame, key: String, id: String,
                           start: String, end: String): DataFrame = {
    val a = df.select(col(key).as("a_key"), col(id).as("a_id"),
      col(start).as("a_start"), col(end).as("a_end"))
    val b = df.select(col(key).as("b_key"), col(id).as("b_id"),
      col(start).as("b_start"), col(end).as("b_end"))
    a.join(b, col("a_key") === col("b_key") && col("a_id") < col("b_id") &&
        col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .select(col("a_key").as(key), col("a_id"), col("b_id"),
        col("a_start"), col("a_end"), col("b_start"), col("b_end"))
  }

  /** Audit change-log diff: who-changed-what per natural key (RDW
    * audits exam/student modifications and documents querying the
    * old vs new values of each change — reference
    * /root/reference/docs/Runbook.Audit.md:1-15). One lag window per
    * tracked column over the version ordering; rows where any tracked
    * value changed survive, carrying (old_<col>, new_<col>) pairs.
    * Complements the SCD-2 validity intervals (q35): that gives WHEN
    * each version was live, this gives WHAT changed between versions.
    *
    * Scale: single shuffle on the natural key, one window pass for
    * all tracked columns (same frame → one sort).
    */
  def auditDiff(df: DataFrame, keys: Seq[String], versionCols: Seq[String],
                tracked: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(versionCols.map(col): _*)
    val withOld = tracked.foldLeft(df) { case (acc, c) =>
      acc.withColumn(s"old_$c", lag(col(c), 1).over(w))
    }
    val changed = tracked.map(c => !(col(s"old_$c") <=> col(c)))
      .reduce(_ || _)
    // first version per key has no predecessor — not a modification.
    // A lag'd literal marker (not the tracked values, which may all be
    // legitimately null on the prior row) decides existence.
    withOld
      .withColumn("__has_prior", lag(lit(1), 1).over(w).isNotNull)
      .filter(col("__has_prior") && changed)
      .select((keys ++ versionCols).map(col) ++
        tracked.flatMap(c => Seq(col(s"old_$c"), col(c).as(s"new_$c"))): _*)
  }

  /** Embargo / report-availability filter (RDW hides test results
    * until a district's embargo is Released — reference
    * /root/reference/docs/Runbook.ManualDataModifications.md:23-30,
    * district_embargo status 0=Loading, 1=Reviewing, 2=Released;
    * Runbook.md:275 "test results availability (embargo) settings").
    * Facts left-join the (tiny, admin-curated) settings table and
    * keep rows whose status is in `visibleStatuses`; facts with no
    * embargo row fall back to `defaultVisible` — embargo is an
    * opt-in restriction, absence means released.
    *
    * Scale: settings is an admin table (per district×year×subject) —
    * always broadcast, so the visibility gate is a map-only pass over
    * the fact table, never a shuffle.
    */
  def embargoFilter(facts: DataFrame, settings: DataFrame, keys: Seq[String],
                    statusCol: String, visibleStatuses: Seq[Int],
                    defaultVisible: Boolean = true): DataFrame =
    facts.join(broadcast(settings), keys, "left_outer")
      .filter(when(col(statusCol).isNull, lit(defaultVisible))
        .otherwise(col(statusCol).isin(visibleStatuses: _*)))
      .drop(statusCol)

  /** Student-group batch replace (RDW group import: a new group file
    * REPLACES the whole membership — members absent from the new file
    * are removed, reference /root/reference/docs/StudentGroups.md —
    * "the file completely replaces any previous definition of the
    * group"). Returns the reconciliation report of the replace: one
    * row per (group, member) with action `added` / `removed` /
    * `kept`; the post-replace membership is exactly the incoming
    * file (`action != 'removed'`).
    *
    * Scale: one full-outer shuffle join on (group, member) — key-only
    * payloads, no skew (group sizes are classroom-bounded).
    */
  def groupReplace(current: DataFrame, incoming: DataFrame,
                   groupCol: String, memberCol: String): DataFrame = {
    val inc = incoming.select(col(groupCol), col(memberCol)).withColumn("__inc", lit(1))
    // replace is scoped to the groups the file defines — a file for
    // group A must not touch group B's membership
    val cur = current.select(col(groupCol), col(memberCol))
      .join(inc.select(groupCol).distinct(), Seq(groupCol), "left_semi")
      .withColumn("__cur", lit(1))
    cur.join(inc, Seq(groupCol, memberCol), "full_outer")
      .select(col(groupCol), col(memberCol),
        when(col("__cur").isNull, "added")
          .when(col("__inc").isNull, "removed")
          .otherwise("kept").as("action"))
  }

  /** Connected components of an undirected edge list by distributed
    * min-label propagation: every vertex repeatedly takes the minimum
    * component id among itself and its neighbors until fixpoint.
    * Returns one row per vertex appearing in `edges` with its
    * component id (= the component's minimum vertex id).
    *
    * Scale: the vertex set is docs-in-pairs (≪ corpus for dedup
    * graphs); each round is one equi-join + one groupBy, and the
    * number of rounds is bounded by the component diameter — dup
    * chains, not corpus size. The driver loop counts ROUNDS, never
    * rows; propagation is monotone (labels only decrease) so
    * convergence is guaranteed.
    */
  /** Driver-side small-graph gate (r17; the IntLloyd/BPE small-side
    * dispatch precedent): at or below this many undirected rows
    * (= 2 × edges, ≈ 128 MB of long pairs at the gate) the edge list
    * — already materialized in the cache the first distributed round
    * would have paid for anyway — is collected ONCE and labeled by
    * union-find with union-by-min-root, which yields exactly the
    * fixpoint the propagation loop converges to (comp = minimum
    * vertex id in the component; Long ids only — any other id type
    * takes the distributed path). Every near-dup cluster graph is
    * pairs-of-duplicates sized (≪ corpus); at warehouse scale the
    * graph blows the gate and the distributed loop below runs
    * untouched. OperatorsSpec pins driver == distributed, null ids
    * included. */
  private[graft] val ccDriverGateRows = 8L * 1024 * 1024

  def connectedComponents(edges: DataFrame, src: String, dst: String): DataFrame = {
    val und = edges.select(col(src), col(dst))
      .union(edges.select(col(dst), col(src)))
      .toDF("src", "dst").cache()
    val longIds = und.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longIds && und.count() <= ccDriverGateRows) {
      val rows = und.collect()
      und.unpersist()
      val spark = edges.sparkSession
      import spark.implicits._
      // A null endpoint joins nothing in ccDistributed: its partner
      // keeps its own component, and the null id itself takes the least
      // label among the vertices that have it as a neighbor (null if
      // it has none).
      val (full, partial) = rows.partition(r => !r.isNullAt(0) && !r.isNullAt(1))
      val nullNeighbors = partial.filterNot(_.isNullAt(0)).map(_.getLong(0))
      val labeled = ccUnionFind(full.map(r => (r.getLong(0), r.getLong(1))) ++
        nullNeighbors.map(v => (v, v)))
      val out = labeled.toDF("id", "comp")
      if (partial.isEmpty) out
      else {
        val label = labeled.toMap
        val nullComp = nullNeighbors.map(label).minOption
        out.union(Seq((Option.empty[Long], nullComp)).toDF("id", "comp"))
      }
    } else ccDistributed(und)
  }

  /** Union-find with union-by-min-root + path compression: the root
    * of every set is always its minimum member, so the final label
    * equals the distributed min-propagation fixpoint exactly. */
  private[graft] def ccUnionFind(rows: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    rows.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(id => (id, find(id)))
  }

  /** The distributed min-label propagation (unchanged; the above-gate
    * path and the spec target the driver fit is pinned against).
    * `und` must be the cached undirected (src, dst) frame. */
  private[graft] def ccDistributed(und: DataFrame): DataFrame = {
    var comp = und.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    // Labels only ever decrease, so the label SUM is strictly
    // monotone until fixpoint — an unchanged sum IS convergence.
    // One tiny aggregate per round instead of a self-join diff.
    var prevSum: Option[BigDecimal] = None
    var converged = false
    while (!converged) {
      val viaNeighbors = und.join(comp, und("src") === comp("id"))
        .select(col("dst").as("id"), col("comp"))
      // Pointer jumping: also adopt my current label's label (labels
      // are always in-component vertices, so this stays correct) —
      // halves the remaining chain length every round, making the
      // round count O(log diameter) instead of O(diameter).
      val viaLabel = comp.as("a")
        .join(comp.as("b"), col("a.comp") === col("b.id"))
        .select(col("a.id").as("id"), col("b.comp").as("comp"))
      // localCheckpoint (not cache): the logical plan of round k
      // embeds several copies of round k-1's, so without lineage
      // truncation analysis time grows exponentially with rounds —
      // the classic iterative-DataFrame pitfall (measured: 131 s vs
      // 2 s at sf0.1). On a cluster with executor loss concerns this
      // would be a reliable checkpoint to the checkpoint dir instead.
      val next = comp.unionByName(viaNeighbors).unionByName(viaLabel)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .transform(graft.CacheScope.cut)
      // sum over an empty frame is null: an empty vertex set (clean
      // corpus, zero near-dup pairs) is already converged — without
      // the guard the BigDecimal constructor NPEs.
      val s = Option(next.agg(sum(col("comp").cast("decimal(38,0)")))
        .head().getDecimal(0)).map(BigDecimal(_))
      converged = s.isEmpty || s == prevSum
      prevSum = s
      comp = next
    }
    und.unpersist()
    comp
  }

  /** All (node, anc) pairs of a parent-pointer forest, self included —
    * the bridge-table flattening every hierarchy report needs (org
    * trees: state → district → school; subtree aggregation joins facts
    * through this closure). Relational pointer doubling: `reach` after
    * round k holds every ancestor within distance 2^k, and composing
    * reach with itself doubles the horizon, so the driver loop runs
    * O(log depth) rounds — each one equi-join + distinct — where the
    * naive per-level walk is O(depth) full passes (a 19-level tree
    * converges in 5 rounds). A recursive CTE is the single-node form
    * of the same fixpoint (the oracle replay).
    *
    * Contract: `parent` null ⇒ root; a parent id that never appears
    * as a node ends its chain (closure can't follow an unknown
    * pointer). Output size is nodes × avg-depth — output-bound by
    * nature, like any bridge table. Convergence: the pair set only
    * grows and is bounded by nodes × depth; an unchanged count IS
    * fixpoint (cycles would loop forever — parent pointers are
    * declared acyclic, the caller's referential contract).
    */
  def ancestorClosure(edges: DataFrame, node: String, parent: String): DataFrame = {
    val base = edges.select(col(node).as("node"), col(parent).as("anc"))
      .filter(col("anc").isNotNull)
    // distance ≤ 1: self + parent. localCheckpoint for the same
    // lineage-truncation reason as connectedComponents above.
    var reach = edges.select(col(node).as("node")).distinct()
      .select(col("node"), col("node").as("anc"))
      .unionByName(base)
      .transform(graft.CacheScope.cut)
    var prev = -1L
    var n = reach.count()
    while (n != prev) {
      prev = n
      val composed = reach.as("a")
        .join(reach.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node").as("node"), col("b.anc").as("anc"))
      reach = reach.unionByName(composed).distinct().transform(graft.CacheScope.cut)
      n = reach.count()
    }
    reach
  }
}
