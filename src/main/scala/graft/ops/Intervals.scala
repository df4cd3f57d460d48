package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DataRef

/** Interval overlap / gap machinery — the subtlest plans in the reference
  * (datajudge `db_access.py:316-708`), re-expressed as Spark joins + windows.
  *
  * Scale notes:
  *   - The overlap self-join is an equi-join on the key columns with the
  *     range predicate as a residual filter — Spark executes a shuffled hash
  *     join on keys, never a cartesian product (as long as keys are given).
  *   - Gap detection windows are partitioned BY KEY (`partitionBy(keys)
  *     .orderBy(coord, tag)`) — no global sort; each key group sorts locally.
  *     The reference's global `row_number` ordering is an artifact of its
  *     SQL backends; per-key ranking is the intended semantic and the
  *     scalable plan.
  */
object Intervals {

  /** Result bundle used by the interval constraints
    * (reference `constraints/interval.py:49-69`).
    */
  final case class IntervalResult(
      nViolationKeys: Long,
      nDistinctKeys: Long,
      violationSample: Option[Row])

  /** Treap keyed by the composite (s2, e2) rectangle coordinates, augmented
    * with the subtree max of e2 — the dynamic prefix-max structure the 2-D
    * overlap sweep stabs into: `prefixMax(b)` answers "largest dim-2 end
    * among active rectangles whose dim-2 start is <= b" in O(log n), with
    * O(log n) insert/delete as the dim-1 sweep activates and expires
    * rectangles. A plain floor-lookup is NOT enough here: two active
    * rectangles can be mutually non-violating purely because the reference's
    * direction constraint (t1 leftmost in EVERY dimension) blocks both
    * orders, while their dim-2 spans still interleave — so the true stabber
    * for a probe can sit arbitrarily far below the floor entry.
    *
    * Coordinates are the JVM objects Spark rows carry (Integer/Long/Double/
    * BigDecimal/Date/Timestamp/String — all Comparable); the caller
    * guarantees type-homogeneous columns via the fast-path guard. Duplicate
    * composite keys hold a count (distinct rectangles sharing (s2, e2) but
    * differing in dim-1, and their expiry, stay independent).
    */
  private final class MaxTreap {
    private def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    private final class Node(val s2: Any, val e2: Any, val prio: Int) {
      var count: Int = 1
      var left: Node = _
      var right: Node = _
      var maxE2: Any = e2
    }
    private var root: Node = _
    private val rnd = new java.util.Random(0x2d51eef7)

    private def subMax(n: Node): Any = if (n == null) null else n.maxE2
    private def maxOf(a: Any, b: Any): Any =
      if (a == null) b else if (b == null) a else if (cmp(a, b) >= 0) a else b
    private def pull(n: Node): Unit =
      n.maxE2 = maxOf(maxOf(subMax(n.left), n.e2), subMax(n.right))
    private def keyCmp(s2: Any, e2: Any, n: Node): Int = {
      val c = cmp(s2, n.s2)
      if (c != 0) c else cmp(e2, n.e2)
    }
    private def rotRight(n: Node): Node = {
      val l = n.left; n.left = l.right; l.right = n; pull(n); pull(l); l
    }
    private def rotLeft(n: Node): Node = {
      val r = n.right; n.right = r.left; r.left = n; pull(n); pull(r); r
    }

    def insert(s2: Any, e2: Any): Unit = root = ins(root, s2, e2)
    private def ins(n: Node, s2: Any, e2: Any): Node =
      if (n == null) new Node(s2, e2, rnd.nextInt())
      else {
        val c = keyCmp(s2, e2, n)
        if (c == 0) { n.count += 1; n }
        else if (c < 0) {
          n.left = ins(n.left, s2, e2)
          if (n.left.prio > n.prio) rotRight(n) else { pull(n); n }
        } else {
          n.right = ins(n.right, s2, e2)
          if (n.right.prio > n.prio) rotLeft(n) else { pull(n); n }
        }
      }

    def delete(s2: Any, e2: Any): Unit = root = del(root, s2, e2)
    private def del(n: Node, s2: Any, e2: Any): Node =
      if (n == null) null // not present (defensive; sweep only deletes inserted keys)
      else {
        val c = keyCmp(s2, e2, n)
        if (c < 0) { n.left = del(n.left, s2, e2); pull(n); n }
        else if (c > 0) { n.right = del(n.right, s2, e2); pull(n); n }
        else if (n.count > 1) { n.count -= 1; n }
        else removeRoot(n)
      }
    private def removeRoot(n: Node): Node =
      if (n.left == null) n.right
      else if (n.right == null) n.left
      else if (n.left.prio > n.right.prio) {
        val l = rotRight(n); l.right = removeRoot(l.right); pull(l); l
      } else {
        val r = rotLeft(n); r.left = removeRoot(r.left); pull(r); r
      }

    /** Max e2 over nodes with s2 <= bound (null when empty below bound). */
    def prefixMax(bound: Any): Any = {
      var acc: Any = null
      var n = root
      while (n != null)
        if (cmp(n.s2, bound) <= 0) {
          acc = maxOf(acc, maxOf(subMax(n.left), n.e2))
          n = n.right
        } else n = n.left
      acc
    }
  }

  /** N-dimensional interval-overlap violations
    * (reference `get_interval_overlaps_nd`, `db_access.py:316-472`).
    *
    * A violation is: (scenario 1) two rows exactly equal in key+interval
    * columns, or (scenario 2) two distinct intervals with a non-empty
    * intersection in every dimension. t1 is constrained to be the leftmost
    * interval (start1 <= start2), and overlap in one dimension is
    * `start1 <= start2 && end1 >= start2` (`>` if `endIncluded=false`).
    *
    * Returns the violating pair rows: key columns, then per-dimension
    * `<start>_1, <start>_2, <end>_1, <end>_2` (scenario-1 rows carry NULLs in
    * the `_2` slots, mirroring the reference's NULL imputation).
    */
  def overlapViolations(
      spark: SparkSession,
      ref: DataRef,
      keyColumns: Seq[String],
      startColumns: Seq[String],
      endColumns: Seq[String],
      endIncluded: Boolean): DataFrame =
    overlapViolationsOn(
      ref.selection(spark), keyColumns, startColumns, endColumns, endIncluded)

  /** [[overlapViolations]] over an explicit selection frame — split out so
    * the 1-D sample path can run the pair join on ONE flagged key's rows
    * instead of the whole table.
    */
  private def overlapViolationsOn(
      sel: DataFrame,
      keyColumns: Seq[String],
      startColumns: Seq[String],
      endColumns: Seq[String],
      endIncluded: Boolean): DataFrame = {
    require(
      startColumns.length == endColumns.length,
      s"Expected same dimensionality for start/end columns, got " +
        s"${startColumns.length} vs ${endColumns.length}")
    val dims     = startColumns.indices
    val t1       = Ops.renameAll(sel, "_1")
    val t2       = Ops.renameAll(sel, "_2")

    val keyCond: Column =
      if (keyColumns.isEmpty) lit(true)
      else keyColumns.map(k => col(k + "_1") === col(k + "_2")).reduce(_ && _)

    val endOp: (Column, Column) => Column =
      if (endIncluded) (a, b) => a >= b else (a, b) => a > b

    // scenario 2: distinct intervals that overlap in every dimension
    val naive = dims
      .map { d =>
        col(startColumns(d) + "_1") <= col(startColumns(d) + "_2") &&
        endOp(col(endColumns(d) + "_1"), col(startColumns(d) + "_2"))
      }
      .reduce(_ && _)
    // DELIBERATE divergence from the reference: its
    // `interval_inequality_condition` compares table2's end column TO
    // ITSELF (`t2.end != t2.end`, always false — db_access.py), so a pair
    // equal in every start but differing in an end is NOT flagged there.
    // That is a plain typo (the symmetric start comparison uses _1 vs _2);
    // this engine compares end_1 vs end_2 as the author evidently intended.
    val inequality = dims
      .map { d =>
        col(startColumns(d) + "_1") =!= col(startColumns(d) + "_2") ||
        col(endColumns(d) + "_1") =!= col(endColumns(d) + "_2")
      }
      .reduce(_ || _)

    val outCols =
      keyColumns.map(k => col(k + "_1").as(k)) ++
        startColumns.map(c => col(c + "_1").as(c + "_1")) ++
        startColumns.map(c => col(c + "_2").as(c + "_2")) ++
        endColumns.map(c => col(c + "_1").as(c + "_1e")) ++
        endColumns.map(c => col(c + "_2").as(c + "_2e"))

    val distinctViolations = t1
      .join(t2, keyCond && naive && inequality)
      .select(outCols: _*)

    // scenario 1: exact duplicates in key+interval space (whole row)
    val dupBase = Ops.duplicates(sel)
    val dupAsViolations = dupBase.select(
      keyColumns.map(col) ++
        startColumns.map(c => col(c).as(c + "_1")) ++
        startColumns.map(c => lit(null).cast(sel.schema(c).dataType).as(c + "_2")) ++
        endColumns.map(c => col(c).as(c + "_1e")) ++
        endColumns.map(c => lit(null).cast(sel.schema(c).dataType).as(c + "_2e")): _*)

    dupAsViolations.union(distinctViolations)
  }

  /** 1-D violating keys WITHOUT the pair self-join: aggregate to
    * (key, start) groups, then one per-key window pass — provably the same
    * key set the self-join flags, case-split on the pair's start order:
    *
    *   - strictly different starts: the inequality clause holds via the
    *     starts alone, so the pair violates iff the earlier row's end
    *     reaches the later start — detected by the running
    *     `max(non-null end)` over STRICTLY-EARLIER start groups (sweep
    *     line; a ROWS frame is exact here because grouping left one row
    *     per start value);
    *   - equal starts, different rows: the self-join admits either row as
    *     t1 and the inequality needs the ends to differ NON-NULL-ly
    *     (`e =!= NULL` is NULL, which filters out — so an (s, e)/(s, NULL)
    *     pair is NOT a violation), i.e. the group violates iff it holds
    *     ≥ 2 distinct non-null ends and the largest reaches the shared
    *     start;
    *   - identical rows (scenario 1): any (key, start, end) multiplicity
    *     ≥ 2, NULLs equal — the grouped count.
    *
    * NULL starts never pair in the join (every comparison is NULL): their
    * group is excluded from the running max and its own tests evaluate
    * NULL → false; only the duplicate test can flag it, matching
    * `Ops.duplicates`. NULL KEYS likewise: the self-join's key equality is
    * NULL for them, so scenario 2 can never fire inside a NULL-key group —
    * both scenario-2 terms are gated on every key column being non-null
    * (the window still groups NULLs together, which is exactly what the
    * DUPLICATE path wants: `Ops.duplicates` groups NULL-safely). The
    * pre-aggregation also shrinks the window input to one row per
    * (key, start, end) BEFORE the sort — at scale the window never sees
    * the raw row count.
    *
    * Only valid when the selection carries exactly key+start+end (extra
    * payload columns change scenario 1's whole-row duplicate semantics) —
    * `overlapResult` guards this and falls back to the join.
    */
  private[graft] def overlapFlags1D(
      spark: SparkSession,
      ref: DataRef,
      keyColumns: Seq[String],
      startColumn: String,
      endColumn: String,
      endIncluded: Boolean): DataFrame = {
    val sel = ref.selection(spark)
    val endOp: (Column, Column) => Column =
      if (endIncluded) (a, b) => a >= b else (a, b) => a > b
    val rowGroups = sel
      .groupBy((keyColumns :+ startColumn :+ endColumn).map(col): _*)
      .agg(count(lit(1)).as("dj_n"))
    val startGroups = rowGroups
      .groupBy((keyColumns :+ startColumn).map(col): _*)
      .agg(
        max(col(endColumn)).as("dj_gmax"),
        count(col(endColumn)).as("dj_n_ends"), // rows here are distinct ends
        max((col("dj_n") > 1).cast("int")).as("dj_dup"))
    val wPrev = Window.partitionBy(keyColumns.map(col): _*)
      .orderBy(col(startColumn).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevStrictMax =
      max(when(col(startColumn).isNotNull, col("dj_gmax"))).over(wPrev)
    val keysNonNull = keyColumns.map(col(_).isNotNull).reduce(_ && _)
    startGroups
      .withColumn(
        "dj_flag",
        (keysNonNull &&
          (coalesce(endOp(prevStrictMax, col(startColumn)), lit(false)) ||
            (col("dj_n_ends") >= 2 &&
              coalesce(endOp(col("dj_gmax"), col(startColumn)), lit(false))))) ||
          (col("dj_dup") === 1))
      .where(col("dj_flag"))
      .select(keyColumns.map(col): _*)
      .distinct()
  }

  /** N-D (N >= 2) violating keys WITHOUT the pair self-join — the dim-1
    * sweep the 1-D path got in round 7, extended to more dimensions
    * (reference `get_interval_overlaps_nd`, `db_access.py:316-472`; N=2 is
    * the `DateNoOverlap2d` shape). Same contract as [[overlapFlags1D]]:
    * returns the exact distinct key tuples the self-join would flag, but a
    * key holding k mutually-dim-1-overlapping rectangles costs O(k log k)
    * sort + stab instead of O(k²) join output.
    *
    * Decomposition, spelled out for N = 2 (pre-aggregated to one row per
    * distinct (key, s1, e1, s2, e2) rectangle, carrying its multiplicity):
    *
    *   - scenario 1 (whole-row duplicates — the column guard in
    *     [[overlapResult]] makes rows == rectangles): multiplicity >= 2
    *     flags the key directly, NULLs grouping as equal, like the 1-D
    *     `dj_dup` term;
    *   - rectangles with a NULL start in either dimension can never join a
    *     scenario-2 pair (every start comparison is NULL) — dropped;
    *   - keys holding a rectangle with a NULL END (r2-only rows whose
    *     pairs' inequality clause can evaluate NULL) are routed to the
    *     legacy pair join RESTRICTED to those keys — exact, and quadratic
    *     only in the NULL-end keys' own row counts;
    *   - clean keys (all coordinates non-null) take the sweep: rectangles
    *     sorted per key by (s1, s2); a min-heap on e1 expires rectangles
    *     whose dim-1 reach ends before the probe's s1 (exactly the join's
    *     `e1_i endOp s1_j` clause, self-exclusion included since a
    *     rectangle is only activated AFTER it probes); the [[MaxTreap]]
    *     stab `prefixMax(s2_j) endOp s2_j` decides whether ANY active
    *     rectangle reaches the probe in dim 2. Active ⟹ s1_i <= s1_j
    *     (sort order) and dim-1 reach (not expired) — both join clauses;
    *     stab ⟹ s2_i <= s2_j and dim-2 reach; distinct clean rectangles
    *     always satisfy the inequality clause. Ties at equal (s1, s2) are
    *     probed as a group: cross-group candidates come from the treap
    *     (the group is not yet activated), and the group itself violates
    *     iff it holds >= 2 distinct rectangles and any member reaches its
    *     own corner in both dimensions (either order of such a pair is
    *     admissible — processing order inside the tie must not matter).
    *
    * That clean-key plan is [[sweep2DFlags]]. For N >= 3 the routing is the
    * same and clean keys take the flag-early linear active-scan instead
    * ([[sweepNDFlags]]).
    *
    * Memory: the treap holds only ACTIVE rectangles (dim-1 reach spans the
    * probe) — worst case O(k) for a fully-dim-1-overlapping hot key, never
    * O(k²); a found violation flags the key and skips its remaining rows.
    */
  private[graft] def overlapFlagsSweep(
      spark: SparkSession,
      ref: DataRef,
      keyColumns: Seq[String],
      startColumns: Seq[String],
      endColumns: Seq[String],
      endIncluded: Boolean): DataFrame = {
    val sel = ref.selection(spark)
    val rectCols = keyColumns ++
      startColumns.zip(endColumns).flatMap { case (s, e) => Seq(s, e) }
    val rects = graft.core.Blocks.checkpoint(
      sel.groupBy(rectCols.map(col): _*).agg(count(lit(1)).as("dj_n")))
    try {
      val dupKeys =
        rects.where(col("dj_n") > 1).select(keyColumns.map(col): _*).distinct()
      val keysNonNull = keyColumns.map(col(_).isNotNull).reduce(_ && _)
      val startsNonNull = startColumns.map(col(_).isNotNull).reduce(_ && _)
      val sweepable = rects.where(keysNonNull && startsNonNull)
      val oddKeys = sweepable
        .where(endColumns.map(col(_).isNull).reduce(_ || _))
        .select(keyColumns.map(col): _*)
        .distinct()

      // the legacy join branch only enters the final plan when NULL-end
      // keys actually exist — the common all-clean case keeps a join-free
      // count plan (PlanSpec pins this)
      val oddFlags: Option[DataFrame] =
        if (oddKeys.isEmpty) None
        else
          Some(
            overlapViolationsOn(
              sel.join(oddKeys, keyColumns, "left_semi"),
              keyColumns, startColumns, endColumns, endIncluded)
              .select(keyColumns.map(col): _*)
              .distinct())

      val cleanBase =
        sweepable.where(endColumns.map(col(_).isNotNull).reduce(_ && _))
      val clean =
        if (oddFlags.isEmpty) cleanBase
        else cleanBase.join(oddKeys, keyColumns, "left_anti")

      val sweepFlags =
        if (startColumns.length == 2)
          sweep2DFlags(clean, keyColumns, startColumns.head, endColumns.head,
            startColumns(1), endColumns(1), endIncluded)
        else
          sweepNDFlags(clean, keyColumns, startColumns, endColumns, endIncluded)

      val flags = (Seq(dupKeys, sweepFlags) ++ oddFlags).reduce(_.union(_)).distinct()
      graft.core.Blocks.checkpoint(flags)
    } finally graft.core.Blocks.release(rects)
  }

  /** The clean-key 2-D sweep plan (see [[overlapFlagsSweep]]): one hash
    * exchange on the keys, one within-partition sort by (keys, s1, s2), one
    * streaming mapPartitions — no join anywhere (PlanSpec pins this).
    * `clean` must hold one row per distinct rectangle, all coordinates and
    * keys non-null.
    */
  private[graft] def sweep2DFlags(
      clean: DataFrame,
      keyColumns: Seq[String],
      s1: String,
      e1: String,
      s2: String,
      e2: String,
      endIncluded: Boolean): DataFrame = {
    val nKeys = keyColumns.length
    val keySchema = org.apache.spark.sql.types.StructType(
      keyColumns.map(k => clean.schema(clean.schema.fieldIndex(k))))
    val inclusive = endIncluded
    val sorted = clean
      .select((keyColumns ++ Seq(s1, e1, s2, e2)).map(col): _*)
      .repartition(keyColumns.map(col): _*)
      .sortWithinPartitions((keyColumns ++ Seq(s1, s2)).map(col): _*)
    sorted.mapPartitions { rows =>
        def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
        // endOp(a, b) == the join's `a >= b` / `a > b` reach test
        def reaches(a: Any, b: Any): Boolean =
          if (a == null) false else if (inclusive) cmp(a, b) >= 0 else cmp(a, b) > 0

        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var curKey: Seq[Any] = null
        var flagged = false
        var treap: MaxTreap = null
        // expiry heap: (e1, s2, e2) min-ordered by e1
        var heap: java.util.PriorityQueue[(Any, Any, Any)] = null
        // buffered (s1, s2) tie group: (e1, e2) members
        var groupS1: Any = null
        var groupS2: Any = null
        var group = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]

        def flushGroup(): Unit = if (!flagged && group.nonEmpty) {
          // expire rectangles whose dim-1 reach ends before this s1
          while (!heap.isEmpty && !reaches(heap.peek()._1, groupS1)) {
            val (_, hs2, he2) = heap.poll()
            treap.delete(hs2, he2)
          }
          // cross-group stab: any active rectangle reaching (s1, s2)?
          val m = treap.prefixMax(groupS2)
          if (m != null && reaches(m, groupS2)) flagged = true
          // within-group: >= 2 distinct rectangles at one corner violate iff
          // any member reaches its own corner in both dims
          if (!flagged && group.length >= 2 &&
            group.exists { case (ge1, ge2) => reaches(ge1, groupS1) && reaches(ge2, groupS2) })
            flagged = true
          if (!flagged) group.foreach { case (ge1, ge2) =>
            treap.insert(groupS2, ge2)
            heap.add((ge1, groupS2, ge2))
          }
          group.clear()
        }

        def emit(): Unit = {
          if (curKey != null) {
            flushGroup()
            if (flagged) out += Row.fromSeq(curKey)
          }
        }

        rows.foreach { r =>
          val key = (0 until nKeys).map(r.get)
          if (curKey == null || key != curKey) {
            emit()
            curKey = key
            flagged = false
            treap = new MaxTreap
            heap = new java.util.PriorityQueue[(Any, Any, Any)](
              11, (a: (Any, Any, Any), b: (Any, Any, Any)) => cmp(a._1, b._1))
            groupS1 = null; groupS2 = null; group.clear()
          }
          if (!flagged) {
            val rs1 = r.get(nKeys); val re1 = r.get(nKeys + 1)
            val rs2 = r.get(nKeys + 2); val re2 = r.get(nKeys + 3)
            if (groupS1 == null || cmp(rs1, groupS1) != 0 || cmp(rs2, groupS2) != 0)
              flushGroup()
            groupS1 = rs1; groupS2 = rs2
            group += ((re1, re2))
          }
        }
        emit()
        out.iterator
      }(org.apache.spark.sql.Encoders.row(keySchema))
  }

  /** The clean-key N-D (N >= 3) sweep: same shuffle shape as
    * [[sweep2DFlags]] (one key exchange, one within-partition sort by
    * (keys, s1..sN), one streaming mapPartitions, no join) but the dim-2
    * treap is replaced by a FLAG-EARLY linear scan of the active set —
    * beyond two dimensions no single-axis prefix-max answers "does any
    * active hyper-rectangle reach this probe in every residual dimension",
    * so each probe corner scans the rectangles still alive in dim 1
    * (lazily compacting expired ones in the same pass) and stops at the
    * first hit, which also flags the whole key and skips its remaining
    * rows. Worst case O(k · active) compares per key with NO materialized
    * pair output and no shuffle amplification — the self-join's k² JOIN
    * ROWS through an exchange were the scale-killer, and they are gone;
    * the no-violation fully-dim-1-overlapping hot key (the quadratic
    * residue) costs in-core compares only, bounded by the dim-1 adjacency
    * structure rather than the key's row count squared.
    *
    * Semantics per probe group at corner (g1..gN) (identical to the 2-D
    * sweep's): active ⟹ s1 <= g1 (sort order) and dim-1 reach (not
    * expired); residual dims require s_d <= g_d and end_d reach; ties at
    * an equal full start corner are probed as a group, violating iff the
    * group holds >= 2 distinct rectangles and any member reaches its own
    * corner in every dimension.
    */
  private[graft] def sweepNDFlags(
      clean: DataFrame,
      keyColumns: Seq[String],
      startColumns: Seq[String],
      endColumns: Seq[String],
      endIncluded: Boolean): DataFrame = {
    val nKeys = keyColumns.length
    val nd = startColumns.length
    val keySchema = org.apache.spark.sql.types.StructType(
      keyColumns.map(k => clean.schema(clean.schema.fieldIndex(k))))
    val inclusive = endIncluded
    val coordCols =
      startColumns.zip(endColumns).flatMap { case (s, e) => Seq(s, e) }
    val sorted = clean
      .select((keyColumns ++ coordCols).map(col): _*)
      .repartition(keyColumns.map(col): _*)
      .sortWithinPartitions((keyColumns ++ startColumns).map(col): _*)
    sorted.mapPartitions { rows =>
        def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
        def reaches(a: Any, b: Any): Boolean =
          if (a == null) false else if (inclusive) cmp(a, b) >= 0 else cmp(a, b) > 0

        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var curKey: Seq[Any] = null
        var flagged = false
        // active rectangles: coords laid out (s1, e1, s2, e2, …) — s1 is
        // dead weight post-activation but keeps one layout everywhere
        var active = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
        // buffered full-start-corner tie group
        var groupStarts: Array[Any] = null
        var group = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]

        def flushGroup(): Unit = if (!flagged && group.nonEmpty) {
          // one pass: lazily compact dim-1-expired rectangles IN PLACE
          // (no per-probe buffer allocation) and stab the survivors
          var w = 0
          var i = 0
          while (i < active.length && !flagged) {
            val a = active(i)
            if (reaches(a(1), groupStarts(0))) {
              active(w) = a
              w += 1
              var d = 1
              var ok = true
              while (d < nd && ok) {
                ok = cmp(a(2 * d), groupStarts(d)) <= 0 &&
                  reaches(a(2 * d + 1), groupStarts(d))
                d += 1
              }
              if (ok) flagged = true
            }
            i += 1
          }
          if (!flagged) {
            // the scan ran to completion — the prefix [0, w) is the
            // compacted active set (a flagged early-exit skips this; the
            // key's state is discarded wholesale at the next key)
            if (w < active.length) active.remove(w, active.length - w)
            if (group.length >= 2 && group.exists { m =>
                (0 until nd).forall(d => reaches(m(2 * d + 1), groupStarts(d)))
              }) flagged = true
          }
          if (!flagged) group.foreach(active += _)
          group.clear()
        }

        def emit(): Unit = {
          if (curKey != null) {
            flushGroup()
            if (flagged) out += Row.fromSeq(curKey)
          }
        }

        rows.foreach { r =>
          val key = (0 until nKeys).map(r.get)
          if (curKey == null || key != curKey) {
            emit()
            curKey = key
            flagged = false
            active = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
            groupStarts = null
            group.clear()
          }
          if (!flagged) {
            val coords = Array.tabulate[Any](2 * nd)(i => r.get(nKeys + i))
            val sameCorner = groupStarts != null &&
              (0 until nd).forall(d => cmp(coords(2 * d), groupStarts(d)) == 0)
            if (!sameCorner) flushGroup()
            if (!flagged) {
              groupStarts = Array.tabulate[Any](nd)(d => coords(2 * d))
              group += coords
            }
          }
        }
        emit()
        out.iterator
      }(org.apache.spark.sql.Encoders.row(keySchema))
  }

  /** Distinct violating key tuples — the COUNT-path entry point that picks
    * the scale-safe plan per shape: 1-D keyed → windowed sweep
    * ([[overlapFlags1D]]), 2-D keyed → dim-1 sweep + treap stab
    * ([[sweep2DFlags]]), N>=3-D keyed → dim-1 sweep + flag-early linear
    * active scan ([[sweepNDFlags]]), anything else (keyless, payload
    * columns beyond key+intervals, or per-dimension start/end type
    * mismatch) → the pair self-join. The sweeps require the selection to
    * carry exactly key+interval columns (scenario 1's whole-row duplicate
    * semantics).
    */
  def overlapViolationKeys(
      spark: SparkSession,
      ref: DataRef,
      keyColumns: Seq[String],
      startColumns: Seq[String],
      endColumns: Seq[String],
      endIncluded: Boolean): DataFrame = {
    val sel = ref.selection(spark)
    val guard = keyColumns.nonEmpty &&
      sel.columns.toSet == (keyColumns ++ startColumns ++ endColumns).toSet
    if (guard && startColumns.length == 1)
      overlapFlags1D(
        spark, ref, keyColumns, startColumns.head, endColumns.head, endIncluded)
    else if (guard && startColumns.length >= 2 &&
      sweepable2DTypes(sel, startColumns, endColumns))
      overlapFlagsSweep(spark, ref, keyColumns, startColumns, endColumns, endIncluded)
    else {
      val violations =
        overlapViolations(spark, ref, keyColumns, startColumns, endColumns, endIncluded)
      if (keyColumns.nonEmpty)
        violations.select(keyColumns.map(col): _*).distinct()
      else violations.distinct()
    }
  }

  /** Count of distinct violating key groups over `overlapViolations`
    * (reference's `n_violations_selection`).
    *
    * The keyed 1-D case — the overwhelmingly common NoOverlap shape — takes
    * the windowed single-pass count (`overlapFlags1D`): no pair self-join,
    * so a key holding k mutually-overlapping intervals costs k log k local
    * sort instead of k² join output. The self-join runs only for N-D /
    * keyless semantics and for the violation SAMPLE — and the sample join
    * is skipped entirely when the count says there is nothing to sample.
    */
  def overlapResult(
      spark: SparkSession,
      ref: DataRef,
      keyColumns: Seq[String],
      startColumns: Seq[String],
      endColumns: Seq[String],
      endIncluded: Boolean): IntervalResult = {
    val sel = ref.selection(spark)
    val colGuard = keyColumns.nonEmpty &&
      sel.columns.toSet == (keyColumns ++ startColumns ++ endColumns).toSet
    val oneD = startColumns.length == 1 && colGuard
    val swept = startColumns.length >= 2 && colGuard &&
      sweepable2DTypes(sel, startColumns, endColumns)
    if (oneD || swept) {
      // flagged keys feed the count AND the sample-key pick — materialize
      // once (≤ one row per key), release before returning
      val flagged =
        if (oneD)
          graft.core.Blocks.checkpoint(overlapFlags1D(
            spark, ref, keyColumns, startColumns.head, endColumns.head, endIncluded))
        else // overlapFlagsSweep returns an already-checkpointed frame
          overlapFlagsSweep(spark, ref, keyColumns, startColumns, endColumns, endIncluded)
      try {
        val nViol = flagged.count()
        val sample =
          if (nViol == 0) None
          else {
            // the pair self-join exists only to produce ONE sample row —
            // run it on a single flagged key's rows, so a key holding k
            // mutually-overlapping intervals costs (its own) k² pair
            // output, never the whole table's (the round-4 advisor's
            // worst case: one hot key, full-table join for one row)
            val keyRow = flagged.head()
            val cond = keyColumns.zipWithIndex
              .map { case (k, i) =>
                val v = keyRow.get(i)
                if (v == null) col(k).isNull else col(k) === lit(v)
              }
              .reduce(_ && _)
            overlapViolationsOn(
              ref.selection(spark).where(cond),
              keyColumns, startColumns, endColumns, endIncluded)
              .head(1).headOption
          }
        IntervalResult(
          nViolationKeys = nViol,
          nDistinctKeys = distinctKeyCount(spark, ref, keyColumns),
          violationSample = sample)
      } finally graft.core.Blocks.release(flagged)
    } else {
      // the self-join plan is the most expensive in the module and feeds BOTH
      // the distinct-key count and the sample — persist across the two actions
      val violations = overlapViolations(
        spark, ref, keyColumns, startColumns, endColumns, endIncluded).cache()
      try {
        val grouped =
          if (keyColumns.nonEmpty) violations.select(keyColumns.map(col): _*).distinct()
          else violations.distinct()
        IntervalResult(
          nViolationKeys = grouped.count(),
          nDistinctKeys = distinctKeyCount(spark, ref, keyColumns),
          violationSample = violations.head(1).headOption)
      } finally violations.unpersist()
    }
  }

  /** The 2-D sweep's coordinate types: per dimension, start and end must
    * share one atomic orderable type — the sweep compares the row-level JVM
    * objects via `Comparable`, which matches Spark's ordering for exactly
    * these types (Double/Float NaN sorts largest on both sides).
    */
  private def sweepable2DTypes(
      sel: DataFrame,
      startColumns: Seq[String],
      endColumns: Seq[String]): Boolean =
    startColumns.zip(endColumns).forall { case (s, e) =>
      val st = sel.schema(s).dataType
      st == sel.schema(e).dataType && (st match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.DateType => true
        case org.apache.spark.sql.types.TimestampType => true
        case org.apache.spark.sql.types.TimestampNTZType => true
        case org.apache.spark.sql.types.StringType => true
        case _ => false
      })
    }

  /** Distinct count of key tuples in the selection
    * (reference `constraints/interval.py:52-56`).
    */
  def distinctKeyCount(spark: SparkSession, ref: DataRef, keyColumns: Seq[String]): Long = {
    val sel = ref.selection(spark)
    val keyed = if (keyColumns.nonEmpty) sel.select(keyColumns.map(col): _*) else sel
    keyed.distinct().count()
  }

  /** The gap check's key columns: the given ones, or — when none are given —
    * every selected column other than start and end (reference
    * `db_access.py:523-529`). Empty means one global timeline.
    */
  private def gapKeys(
      sel: DataFrame,
      keyColumns: Seq[String],
      startColumn: String,
      endColumn: String): Seq[String] =
    if (keyColumns.nonEmpty) keyColumns
    else sel.columns.toSeq.filterNot(c => c == startColumn || c == endColumn)

  /** Interval-gap violations (reference `_get_interval_gaps`,
    * `db_access.py:499-596`, inspired by the classic ranges-gaps SQL).
    *
    * Per key group: interval start points not strictly inside any other
    * interval are ranked by start; end points likewise by end; the k-th end
    * is paired with the (k+1)-th start; the pair violates if
    * `gapCondition(end, nextStart)` holds. Returns (violations DF with
    * keys/start/end, per the reference's violation selection).
    */
  def gapViolations(
      spark: SparkSession,
      ref: DataRef,
      keyColumnsIn: Seq[String],
      startColumn: String,
      endColumn: String,
      gapCondition: (Column, Column) => Column): DataFrame = {
    val sel = ref.selection(spark)
    val keyColumns = gapKeys(sel, keyColumnsIn, startColumn, endColumn)
    if (keyColumns.nonEmpty)
      keyedGapPairs(sel, keyColumns, startColumn, endColumn, gapCondition)
        .where(col("dj_viol"))
        .select(keyColumns.map(col) :+ col(startColumn) :+ col(endColumn): _*)
    else {
      // Keyless: one global timeline (reference `db_access.py:523-529` with
      // an all-columns-consumed selection). Ranks come from the distributed
      // bucket scheme (CumSum), not an unpartitioned window — no
      // single-partition sort even when the boundary-point set is large.
      // the anti-join point tables feed CumSum's multi-job scheme (boundary
      // estimation, bucket totals, final plan) plus the downstream count +
      // sample — localCheckpoint materializes each ONCE instead of
      // re-running the join per action (blocks are freed by the context
      // cleaner once the result is unreferenced)
      val startTable = CumSum.withGlobalRank(
        graft.core.Blocks.checkpoint(
          notInOtherIntervalGlobal(sel, startColumn, endColumn, startColumn)
            .select(col(startColumn))),
        startColumn, "dj_start_rank")
      val endTable = CumSum.withGlobalRank(
        graft.core.Blocks.checkpoint(
          notInOtherIntervalGlobal(sel, startColumn, endColumn, endColumn)
            .select(col(endColumn))),
        endColumn, "dj_end_rank")
      startTable
        .join(
          endTable,
          col("dj_start_rank") === col("dj_end_rank") + 1 &&
            gapCondition(col(endColumn), col(startColumn)))
        .select(col(startColumn), col(endColumn))
    }
  }

  /** Keyless NOT EXISTS: the selection rows whose `pointCol` is not strictly
    * inside any interval of the whole selection (reference
    * `db_access.py:475-496`), as a union-tag sweep instead of an anti-join:
    * interval events (coord = start, carrying end) and probe rows
    * (coord = point) sort by (coord, tag) with probes BEFORE events at equal
    * coord, and a probe is strictly inside some other interval iff the
    * running max of interval ends exceeds it. The tie-break preserves the
    * reference's strict `point > start`, which also makes self-exclusion
    * automatic. The running max goes through `CumSum.withRunningMax`'s
    * range-bucket scheme (per-bucket windows plus a driver-side prefix-max
    * carry; equal coords land in one bucket), so there is no unpartitioned
    * window. NULL semantics match the anti-join: a NULL-coordinate probe is
    * kept, NULL-start intervals contain nothing, NULL ends are ignored.
    */
  private def notInOtherIntervalGlobal(
      sel: DataFrame,
      startColumn: String,
      endColumn: String,
      pointCol: String): DataFrame = {
    val probes = sel
      .withColumn("dj_coord", col(pointCol))
      .withColumn("dj_end", lit(null).cast(sel.schema(endColumn).dataType))
      .withColumn("dj_is_iv", lit(0))
    val events = sel
      .select(col(startColumn).as("dj_coord"), col(endColumn).as("dj_end"))
      .where(col("dj_coord").isNotNull)
      .withColumn("dj_is_iv", lit(1))
    CumSum
      .withRunningMax(
        probes.unionByName(events, allowMissingColumns = true),
        "dj_coord", Seq("dj_is_iv"), "dj_end", "dj_runmax")
      .where(
        col("dj_is_iv") === 0 &&
          coalesce(!(col("dj_runmax") > col("dj_coord")), lit(true)))
      .drop("dj_coord", "dj_end", "dj_is_iv", "dj_runmax")
  }

  /** Keyed gap pairs: the reference's two NOT-EXISTS point tables, their
    * per-column `row_number` ranks and the rank equi-join
    * (`db_access.py:475-596`), as ONE per-key sweep and one aggregation.
    *
    *   1. Explode: every selection row becomes a start probe, an end probe
    *      and an interval event at `start` carrying `end` (NULL-start
    *      events dropped — they contain nothing). The coordinate has the
    *      type of `coalesce(start, end)`; start and end values keep theirs.
    *   2. Sweep: one window per key ordered by (coord, tag), probes BEFORE
    *      events at equal coordinates — O(n log n), where the reference's
    *      anti-join rescans its key group's intervals for every point. A
    *      probe is free (not strictly inside another interval of its key)
    *      iff the running max of event ends does not exceed it — the
    *      tie-break keeps the reference's strict `point > start`, and a
    *      NULL coordinate or an empty max keeps the probe. Running counts
    *      of free starts and free ends are their `row_number` ranks, since
    *      the sort is by value (NULLs first, as in the reference's
    *      ascending order).
    *   3. Pair: a free start of rank r gets pair r-1, a free end of rank k
    *      gets pair k, so grouping on (keys, pair) joins end k with start
    *      k+1 — rank pairing, not adjacency, so duplicate boundary points
    *      shift the alignment exactly as in the reference. The grouping is
    *      satisfied by the window's key partitioning: no second exchange.
    *
    * Earlier fusions were rejected both ways: adjacency pairing (one
    * `lead()` window) is not the reference's semantics once duplicate
    * boundary points shift the rank alignment (IntervalSpec's truth
    * tables), and rank pairing by a join of two sweeps duplicated the whole
    * sweep subtree per join branch. This one pairs by rank through a
    * `groupBy` on the window's existing key partitioning, so there is
    * neither a join nor a duplicated subtree.
    *
    * Every key group keeps at least one free probe (its smallest start, or
    * any probe when all its starts are NULL), so every key of the selection
    * has at least one pair row.
    *
    * Returns per (keys, pair): the keys, start, end and `dj_viol`. A pair
    * violates only with both sides present, no NULL key (the reference's
    * key equi-join never matches NULL) and `gapCondition(end, nextStart)`
    * true.
    */
  private def keyedGapPairs(
      sel: DataFrame,
      keyColumns: Seq[String],
      startColumn: String,
      endColumn: String,
      gapCondition: (Column, Column) => Column): DataFrame = {
    val keys = keyColumns.map(col)
    val coordType = sel.select(coalesce(col(startColumn), col(endColumn))).schema.head.dataType
    val startType = sel.schema(startColumn).dataType
    val endType = sel.schema(endColumn).dataType
    // tags: 0 start probe, 1 end probe, 2 interval event
    def point(tag: Int, coord: String, start: Column, end: Column): Column =
      struct(
        lit(tag).as("dj_tag"),
        col(coord).cast(coordType).as("dj_coord"),
        start.cast(startType).as("dj_s"),
        end.cast(endType).as("dj_e"))
    val none = lit(null)
    val tag = col("dj_tag")
    val w = Window
      .partitionBy(keys: _*)
      .orderBy(col("dj_coord"), tag)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def freeCount(t: Int): Column = count(when(col("dj_free") && tag === t, 1)).over(w)
    sel
      .select(keys :+ explode(array(
        point(0, startColumn, col(startColumn), none),
        point(1, endColumn, none, col(endColumn)),
        point(2, startColumn, none, col(endColumn)))).as("dj_p"): _*)
      .select(keys :+ col("dj_p.*"): _*)
      .where(tag < 2 || col("dj_coord").isNotNull)
      .withColumn("dj_runmax", max(when(tag === 2, col("dj_e"))).over(w))
      .withColumn("dj_free",
        tag < 2 && coalesce(!(col("dj_runmax") > col("dj_coord")), lit(true)))
      .withColumn("dj_pair", when(tag === 0, freeCount(0) - 1).otherwise(freeCount(1)))
      .where(col("dj_free"))
      .groupBy(keys :+ col("dj_pair"): _*)
      .agg(
        max(tag === 0).as("dj_has_start"),
        max(tag === 1).as("dj_has_end"),
        max(col("dj_s")).as(startColumn),
        max(col("dj_e")).as(endColumn))
      .select(keys :+ col(startColumn) :+ col(endColumn) :+
        (col("dj_has_start") && col("dj_has_end") &&
          keys.map(_.isNotNull).reduce(_ && _) &&
          coalesce(gapCondition(col(endColumn), col(startColumn)), lit(false)))
          .as("dj_viol"): _*)
  }

  def gapResult(
      spark: SparkSession,
      ref: DataRef,
      keyColumnsIn: Seq[String],
      startColumn: String,
      endColumn: String,
      gapCondition: (Column, Column) => Column): IntervalResult = {
    val sel = ref.selection(spark)
    val keyColumns = gapKeys(sel, keyColumnsIn, startColumn, endColumn)
    if (keyColumns.nonEmpty) {
      // one action: per key whether any pair violates plus one violating
      // pair, then the key count, the violating-key count and a sample
      val keys = keyColumns.map(col)
      val viol = col("dj_viol")
      val row = keyedGapPairs(sel, keyColumns, startColumn, endColumn, gapCondition)
        .groupBy(keys: _*)
        .agg(
          max(viol).as("dj_key_viol"),
          first(when(viol, struct(keys :+ col(startColumn) :+ col(endColumn): _*)),
            ignoreNulls = true).as("dj_sample"))
        .agg(
          count(lit(1)),
          count(when(col("dj_key_viol"), 1)),
          first(col("dj_sample"), ignoreNulls = true))
        .head()
      IntervalResult(
        nViolationKeys = row.getLong(1),
        nDistinctKeys = row.getLong(0),
        violationSample = Option(row.getStruct(2)))
    } else {
      // Keyless: every gap pair is one violation on the single global
      // timeline; the denominator is the distinct (start, end) row count.
      // Persist across the count + sample actions: the anti-join + rank
      // machinery is the most expensive plan in the gap path.
      val violations =
        gapViolations(spark, ref, keyColumns, startColumn, endColumn, gapCondition).cache()
      try
        IntervalResult(
          nViolationKeys = violations.count(),
          nDistinctKeys = distinctKeyCount(spark, ref, Seq.empty),
          violationSample = violations.head(1).headOption)
      finally violations.unpersist()
    }
  }

  /** Date gap condition: day difference strictly greater than the legitimate
    * gap size (reference `_date_gap_condition`, `db_access.py:599-656` — the
    * five dialect variants collapse to one `datediff`).
    */
  def dateGapCondition(legitimateGapSize: Double): (Column, Column) => Column =
    (endCol, nextStart) => datediff(nextStart, endCol) > legitimateGapSize

  /** Numeric gap condition: next start - end > gap
    * (reference `get_numeric_gaps`, `db_access.py:687-708`).
    */
  def numericGapCondition(legitimateGapSize: Double): (Column, Column) => Column =
    (endCol, nextStart) => (nextStart - endCol) > legitimateGapSize
}
