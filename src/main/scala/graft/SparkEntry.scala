package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Condition, DataRef, FrameSource, ParquetSource}
import graft.ops.{Intervals, Ops, Stats}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator of SURVEY §2.1 has a `queries` entry here, each paired with
  * a DuckDB-executable oracle in `oracleSql` (column names aligned on both
  * sides; integer outputs cast to BIGINT, fragile doubles rounded identically
  * in-plan).
  */
object SparkEntry {

  private def pq(dir: String, name: String): String = s"$dir/$name.parquet"

  /** ONE cached persisted-index location per (dataset dir, index kind) —
    * no per-content dirs, so a data regeneration rebuilds IN PLACE instead
    * of leaking a corpus-sized tmpdir per run. Freshness is a RECURSIVE
    * content fingerprint of the source table (sorted
    * relative-path:length:mtime tuples, murmur-hashed — a sum of
    * length+mtime can alias and misses nested parquet layouts); `buildIt`
    * runs only when the fingerprint is stale or the index's own commit
    * marker (`meta.json`) is missing. Shared by the persisted-index gate
    * queries (`q_incremental_dedup`, `q_indexed_ann`).
    */
  private def cachedIndexPath(
      dir: String, table: String, kind: String)(
      buildIt: String => Unit): String = {
    val src = new java.io.File(pq(dir, table))
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(walk)
      else Seq(
        f.getAbsolutePath.stripPrefix(src.getAbsolutePath) +
          ":" + f.length() + ":" + f.lastModified())
    val fp = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(walk(src).sorted))
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_" + java.lang.Integer.toHexString(dir.hashCode))
      .getAbsolutePath
    val fpFile = new java.io.File(path, "source.fingerprint")
    val fresh = fpFile.exists() &&
      new String(
        java.nio.file.Files.readAllBytes(fpFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == fp &&
      new java.io.File(path, "meta.json").exists()
    if (!fresh) {
      buildIt(path)
      java.nio.file.Files.write(
        fpFile.toPath,
        fp.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    path
  }

  /** Deterministic messy URL per document row (mixed-case scheme/host,
    * default + explicit ports, trailing slash, utm_* params, fragment) —
    * shared by the `q_url_normalize` / `q_domain_stats` gate queries; the
    * oracle rebuilds the identical strings in SQL (`synthUrlSql`).
    */
  private def synthUrlCol: Column = concat(
    when(col("doc_id") % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
    lit("WWW."),
    when(col("doc_id") % 3 === 0, "news.").otherwise(""),
    lit("Site-"), col("source"), lit(".Org"),
    when(col("doc_id") % 5 === 0, ":443")
      .when(col("doc_id") % 5 === 1, ":8080")
      .otherwise(""),
    lit("/Docs/"), col("doc_id"),
    when(col("doc_id") % 4 === 0, "/").otherwise(""),
    when(col("doc_id") % 3 === 0, concat(lit("?utm_source=feed&ref="), col("source")))
      .when(col("doc_id") % 3 === 1, "?a=1&utm_campaign=x&b=2")
      .otherwise(""),
    when(col("doc_id") % 2 === 0, "#sec2").otherwise(""))

  /** The DuckDB spelling of [[synthUrlCol]]. */
  private val synthUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://'
       || 'WWW.' || CASE WHEN doc_id % 3 = 0 THEN 'news.' ELSE '' END
       || 'Site-' || source || '.Org'
       || CASE WHEN doc_id % 5 = 0 THEN ':443'
               WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END
       || '/Docs/' || doc_id
       || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
       || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=' || source
               WHEN doc_id % 3 = 1 THEN '?a=1&utm_campaign=x&b=2'
               ELSE '' END
       || CASE WHEN doc_id % 2 = 0 THEN '#sec2' ELSE '' END)"""

  /** The events table with `ts` normalized to a real timestamp: the column
    * has shipped both as parquet TIMESTAMP(NANOS) (int64 epoch-nanos under
    * the legacy read switch) and as a native TIMESTAMP(MICROS) — branch on
    * the dtype Spark actually read (`ts / 1000` on a timestamp throws
    * DATATYPE_MISMATCH).
    */
  private def readEvents(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(pq(dir, "events"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
      case _ => raw
    }
  }

  private def ref(
      dir: String,
      table: String,
      cols: Option[Seq[String]] = None,
      cond: Option[String] = None): DataRef =
    DataRef(ParquetSource(pq(dir, table)), cols, cond.map(Condition.raw))

  private def one(s: SparkSession, names: Seq[String], values: Seq[Any]): DataFrame = {
    val row = org.apache.spark.sql.Row(values: _*)
    val fields = names.zip(values).map {
      case (n, _: java.lang.Long)    => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType)
      case (n, _: java.lang.Double)  => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)
      case (n, _: String)            => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
      case (n, _)                    => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
    }
    s.createDataFrame(
      java.util.Collections.singletonList(row),
      org.apache.spark.sql.types.StructType(fields))
  }

  /** Format a collected temporal value as an ISO local date, regardless of
    * whether Spark handed back a legacy or java.time object (TIMESTAMP vs
    * TIMESTAMP_NTZ collect types differ in Spark 4).
    */
  private def dateStr(v: Any): String = v match {
    case t: java.sql.Timestamp =>
      t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDate.toString
    case ldt: java.time.LocalDateTime => ldt.toLocalDate.toString
    case i: java.time.Instant => i.atOffset(java.time.ZoneOffset.UTC).toLocalDate.toString
    case d: java.sql.Date             => d.toString
    case ld: java.time.LocalDate      => ld.toString
    case other                        => String.valueOf(other)
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. TPC-H Q1-shaped
    * pricing summary — one shuffle, map-side partial aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    spark.read
      .parquet(pq(dir, "lineitem"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice").cast(DecimalType(38, 6))), 2)
          .cast("double")
          .as("sum_price"),
        count(lit(1)).as("n_rows"))
  }

  // ---------------------------------------------------------------------
  // One query per implemented operator from SURVEY.md §2.
  // ---------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ trainingQueries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #1 get_selection: scan + filter + projection
    "q_selection" -> ((s, dir) =>
      ref(
        dir,
        "lineitem",
        Some(Seq("l_orderkey", "l_linenumber", "l_quantity")),
        Some("l_returnflag = 'R' AND l_quantity > 45")).selection(s)),

    // #13 get_row_count
    "q_row_count" -> { (s, dir) =>
      val n = Ops.rowCount(s, ref(dir, "lineitem", cond = Some("l_discount > 0.05")))
      one(s, Seq("n_rows"), Seq(Long.box(n)))
    },

    // #13 get_row_count with row_limit cap (NRowsMin optimization)
    "q_row_count_capped" -> { (s, dir) =>
      val n = Ops.rowCount(s, ref(dir, "lineitem"), rowLimit = Some(1234L))
      one(s, Seq("n_rows"), Seq(Long.box(n)))
    },

    // #15 get_min / get_max (numeric and date)
    "q_min_max" -> { (s, dir) =>
      val r  = ref(dir, "lineitem", Some(Seq("l_extendedprice")))
      val rd = ref(dir, "lineitem", Some(Seq("l_shipdate")))
      val minP = Ops.getMin(s, r).asInstanceOf[Double]
      val maxP = Ops.getMax(s, r).asInstanceOf[Double]
      val minD = Ops.getMin(s, rd.copy(columns = Some(Seq("l_shipdate"))))
      val maxD = Ops.getMax(s, rd)
      one(
        s,
        Seq("min_price", "max_price", "min_ship", "max_ship"),
        Seq(Double.box(minP), Double.box(maxP), dateStr(minD), dateStr(maxD)))
    },

    // #16 get_mean (avg over exact-integer doubles + decimal-cast avg)
    "q_mean" -> { (s, dir) =>
      val avgQty = Ops.getMean(s, ref(dir, "lineitem", Some(Seq("l_quantity"))))
      val avgPrice = Ops.getMean(s, ref(dir, "lineitem", Some(Seq("l_extendedprice"))))
      one(
        s,
        Seq("avg_qty", "avg_price"),
        Seq(Double.box(round6(avgQty)), Double.box(round6(avgPrice))))
    },

    // #17 get_percentile — exact semantics, three percentages in one pass.
    // ONE base scan: the distinct-value counts are checkpointed (registry-
    // tracked; Verify/Bench release after consuming), so CumSum's boundary
    // job, its bucket-totals collect, and the final aggregate read the
    // |distinct|-sized frame — and the row total is CumSum's grand total,
    // not a separate scan (the round-4 judge measured the unmaterialized
    // spelling re-running the base scan+shuffle 4× per call).
    "q_percentile" -> { (s, dir) =>
      val counts = graft.core.Blocks.checkpoint(
        s.read
          .parquet(pq(dir, "lineitem"))
          .where(col("l_extendedprice").isNotNull)
          .groupBy(col("l_extendedprice").as("v"))
          .agg(count(lit(1)).as("cnt")))
      val (running, totals) =
        graft.ops.CumSum.withRunningSums(counts, "v", Seq("cnt"), Seq("cum"))
      val total = totals.head
      running.agg(
        min(when(col("cum") * 100 >= lit(total) * 25, col("v"))).as("p25"),
        min(when(col("cum") * 100 >= lit(total) * 50, col("v"))).as("p50"),
        min(when(col("cum") * 100 >= lit(total) * 90, col("v"))).as("p90"))
    },

    // #18 get_min_length / get_max_length
    "q_min_max_length" -> { (s, dir) =>
      val r = ref(dir, "part", Some(Seq("p_name")))
      one(
        s,
        Seq("min_len", "max_len"),
        Seq(Long.box(Ops.getMinLength(s, r)), Long.box(Ops.getMaxLength(s, r))))
    },

    // #19 get_fraction_between
    "q_fraction_between" -> { (s, dir) =>
      val f = Ops
        .getFractionBetween(s, ref(dir, "lineitem", Some(Seq("l_quantity"))), "10", "40")
        .getOrElse(0.0)
      one(s, Seq("frac"), Seq(Double.box(round6(f))))
    },

    // #20 get_uniques: GROUP BY + count
    "q_uniques" -> ((s, dir) =>
      ref(dir, "lineitem")
        .selection(s)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))),

    // #21 get_unique_count
    "q_unique_count" -> { (s, dir) =>
      val n =
        Ops.getUniqueCount(s, ref(dir, "lineitem", Some(Seq("l_orderkey", "l_suppkey"))))
      one(s, Seq("n_unique"), Seq(Long.box(n)))
    },

    // engine-side distinct-set difference (between-source Uniques path):
    // customer nations EXCEPT supplier nations, all in-engine
    "q_uniques_diff" -> ((s, dir) =>
      Ops.uniquesDiff(
        s,
        ref(dir, "customer", Some(Seq("c_nationkey"))),
        ref(dir, "supplier", Some(Seq("s_nationkey"))))),

    // #22 get_unique_count_union
    "q_unique_count_union" -> { (s, dir) =>
      val n = Ops.getUniqueCountUnion(
        s,
        ref(dir, "customer", Some(Seq("c_nationkey"))),
        ref(dir, "supplier", Some(Seq("s_nationkey"))))
      one(s, Seq("n_unique"), Seq(Long.box(n)))
    },

    // #23 get_missing_fraction (NULLs synthesized via nullif)
    "q_missing_fraction" -> { (s, dir) =>
      val frame = s.read
        .parquet(pq(dir, "orders"))
        .select(expr("nullif(o_orderpriority, '1-URGENT')").as("x"))
      val f = Ops
        .getMissingFraction(s, DataRef(FrameSource(frame, "orders_nullif"), Some(Seq("x"))))
        .getOrElse(0.0)
      one(s, Seq("null_frac"), Seq(Double.box(round6(f))))
    },

    // #24 get_column_names (reflected schema)
    "q_column_names" -> { (s, dir) =>
      val names = Ops.getColumnNames(s, ref(dir, "customer")).sorted
      s.createDataFrame(
        names.map(n => org.apache.spark.sql.Row(n)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "column_name",
            org.apache.spark.sql.types.StringType))))
    },

    // #25 get_column_type (reflected type of the relevant column)
    "q_column_type" -> { (s, dir) =>
      val tpe = Ops.getColumnType(s, ref(dir, "customer", Some(Seq("c_custkey"))))
      one(s, Seq("col_type"), Seq(tpe.simpleString))
    },

    // #26 get_primary_keys — the reflection path end-to-end: a catalog
    // table with a `primaryKey` TBLPROPERTY, PrimaryKeys.of round-trip, and
    // the PrimaryKeyDefinition constraint judging a right and a wrong
    // declaration. Oracle is a constant row — the point is exercising the
    // reflection inside the driver gate (VERDICT r7 item 3).
    "q_primary_keys" -> { (s, dir) =>
      val table = "graft_pk_gate"
      // the in-memory catalog is per-session but the warehouse DIRECTORY
      // persists across runs — saveAsTable refuses a leftover location for
      // a table the fresh catalog has never seen, so purge both
      s.sql(s"DROP TABLE IF EXISTS $table")
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val whPath =
        try {
          val uri = new java.net.URI(wh)
          if (uri.getScheme == "file") uri.getPath else wh
        } catch { case _: Exception => wh }
      def rmRec(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRec))
        f.delete(): Unit
      }
      rmRec(new java.io.File(whPath, table))
      s.read
        .parquet(pq(dir, "nation"))
        .write
        .mode("overwrite")
        .saveAsTable(table)
      s.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('primaryKey' = 'n_nationkey')")
      val reflected = graft.core.PrimaryKeys
        .of(s, graft.core.TableSource(table))
        .map(_.mkString(","))
        .getOrElse("")
      val tref = DataRef(graft.core.TableSource(table))
      val ok = graft.constraints
        .PrimaryKeyDefinition(tref, Seq("n_nationkey"))
        .test(s)
        .outcome
      val wrong = graft.constraints
        .PrimaryKeyDefinition(tref, Seq("n_name"))
        .test(s)
        .outcome
      one(
        s,
        Seq("pk_cols", "pk_match", "pk_mismatch"),
        Seq(reflected, String.valueOf(ok), String.valueOf(wrong)))
    },

    // #27/#28 get_row_difference (EXCEPT = EXCEPT DISTINCT)
    "q_row_diff" -> ((s, dir) =>
      ref(
        dir,
        "orders",
        Some(Seq("o_orderkey", "o_orderstatus")),
        Some("o_totalprice > 50000")).selection(s).except(
        ref(dir, "orders", Some(Seq("o_orderkey", "o_orderstatus")), Some("o_orderstatus = 'F'"))
          .selection(s))),
    "q_row_diff_count" -> { (s, dir) =>
      val n = Ops.getRowDifferenceCount(
        s,
        ref(dir, "orders", Some(Seq("o_orderkey", "o_orderstatus")), Some("o_totalprice > 50000")),
        ref(dir, "orders", Some(Seq("o_orderkey", "o_orderstatus")), Some("o_orderstatus = 'F'")))
      one(s, Seq("n_diff"), Seq(Long.box(n)))
    },

    // #29 get_row_mismatch (inner match-join + null-safe compare)
    "q_row_mismatch" -> { (s, dir) =>
      val r1 = ref(dir, "orders", Some(Seq("o_orderkey", "o_orderpriority")))
      val modified = s.read
        .parquet(pq(dir, "orders"))
        .select(col("o_orderkey"), expr("nullif(o_orderpriority, '2-HIGH')").as("p2"))
      val r2 = DataRef(FrameSource(modified, "orders_mod"), Some(Seq("o_orderkey", "p2")))
      val (mismatch, n) = Ops.getRowMismatch(
        s,
        r1,
        r2,
        Ops.MatchAndCompare(
          Seq("o_orderkey"),
          Seq("o_orderkey"),
          Seq("o_orderpriority"),
          Seq("p2")))
      one(
        s,
        Seq("mismatch_frac", "n_rows"),
        Seq(Double.box(round6(mismatch)), Long.box(n)))
    },

    // #30 duplicates
    "q_duplicates" -> ((s, dir) =>
      Ops.duplicates(ref(dir, "lineitem", Some(Seq("l_orderkey"))).selection(s))),

    // #31 get_duplicate_sample — the reference returns an arbitrary first
    // duplicate row (db_access.py:1118-1125); for a cross-engine oracle we
    // canonicalize to the lexicographically smallest duplicate via a
    // distributed top-1 (TakeOrderedAndProject, no global sort)
    "q_duplicate_sample" -> { (s, dir) =>
      val dup = Ops.duplicates(
        ref(dir, "lineitem", Some(Seq("l_orderkey", "l_returnflag"))).selection(s))
      dup.orderBy(col("l_orderkey"), col("l_returnflag")).limit(1)
    },

    // #12 get_functional_dependency_violations
    "q_functional_dependency" -> ((s, dir) =>
      Ops.functionalDependencyViolations(
        s,
        ref(dir, "orders", Some(Seq("o_custkey", "o_orderstatus"))),
        Seq("o_custkey"))),

    // #32 column_array_agg (collect_list, order-normalized)
    "q_array_agg" -> ((s, dir) =>
      Ops
        .columnArrayAgg(s, ref(dir, "nation", Some(Seq("n_regionkey"))), "n_name")
        .select(
          col("n_regionkey"),
          array_join(col("n_name"), ",").as("names"))),

    // #5 get_date_span
    "q_date_span" -> { (s, dir) =>
      val frame =
        s.read.parquet(pq(dir, "orders")).select(to_date(col("o_orderdate")).as("d"))
      val span =
        Ops.getDateSpan(s, DataRef(FrameSource(frame, "orders_dates"), Some(Seq("d"))))
      one(s, Seq("span_days"), Seq(Long.box(span.toLong)))
    },

    // #6 _get_date_growth_rate — ratio of two filtered date spans - 1
    // (db_access.py:302-313); spans over open-status vs all orders
    "q_date_growth" -> { (s, dir) =>
      val dates =
        s.read.parquet(pq(dir, "orders"))
          .select(to_date(col("o_orderdate")).as("d"), col("o_orderstatus"))
      val src = FrameSource(dates, "orders_dates")
      val g = Ops.getDateGrowthRate(
        s,
        DataRef(src, Some(Seq("d")), Some(Condition.raw("o_orderstatus = 'O'"))),
        DataRef(src, Some(Seq("d"))))
      one(s, Seq("growth"), Seq(Double.box(round6(g))))
    },

    // #7 get_interval_overlaps_nd (1-D dates, keyed)
    "q_interval_overlap" -> { (s, dir) =>
      val iv = s.read
        .parquet(pq(dir, "orders"))
        .select(
          col("o_custkey"),
          to_date(col("o_orderdate")).as("s_date"),
          date_add(to_date(col("o_orderdate")), 30).as("e_date"))
      Intervals
        .overlapViolations(
          s,
          DataRef(FrameSource(iv, "order_intervals")),
          Seq("o_custkey"),
          Seq("s_date"),
          Seq("e_date"),
          endIncluded = true)
        .select(col("o_custkey"))
        .distinct()
    },

    // #7 get_interval_overlaps_nd (2-D: date × price, keyed) — exercises the
    // dim-1 sweep + treap prefix-max count path (Intervals.overlapFlagsSweep),
    // not the pair self-join
    "q_interval_overlap_2d" -> { (s, dir) =>
      val iv = s.read
        .parquet(pq(dir, "orders"))
        .select(
          col("o_custkey"),
          to_date(col("o_orderdate")).as("s_date"),
          date_add(to_date(col("o_orderdate")), 30).as("e_date"),
          col("o_totalprice").as("s_price"),
          (col("o_totalprice") + lit(50000.0)).as("e_price"))
      Intervals.overlapViolationKeys(
        s,
        DataRef(FrameSource(iv, "order_intervals_2d")),
        Seq("o_custkey"),
        Seq("s_date", "s_price"),
        Seq("e_date", "e_price"),
        endIncluded = true)
    },

    // N >= 3-D overlap: the flag-early linear-scan sweep
    // (Intervals.sweepNDFlags) vs DuckDB's pair self-join
    "q_interval_overlap_3d" -> { (s, dir) =>
      val iv = s.read
        .parquet(pq(dir, "orders"))
        .select(
          col("o_custkey"),
          to_date(col("o_orderdate")).as("s_date"),
          date_add(to_date(col("o_orderdate")), 45).as("e_date"),
          col("o_totalprice").as("s_price"),
          (col("o_totalprice") + lit(80000.0)).as("e_price"),
          (col("o_orderkey") % 50).as("s_slot"),
          (col("o_orderkey") % 50 + 5).as("e_slot"))
      Intervals.overlapViolationKeys(
        s,
        DataRef(FrameSource(iv, "order_intervals_3d")),
        Seq("o_custkey"),
        Seq("s_date", "s_price", "s_slot"),
        Seq("e_date", "e_price", "e_slot"),
        endIncluded = true)
    },

    // #9/#11 get_date_gaps
    "q_date_gaps" -> { (s, dir) =>
      val iv = s.read
        .parquet(pq(dir, "orders"))
        .select(
          col("o_custkey"),
          to_date(col("o_orderdate")).as("s_date"),
          date_add(to_date(col("o_orderdate")), 5).as("e_date"))
      Intervals
        .gapViolations(
          s,
          DataRef(FrameSource(iv, "order_intervals")),
          Seq("o_custkey"),
          "s_date",
          "e_date",
          Intervals.dateGapCondition(30.0))
        .select(col("o_custkey"))
        .distinct()
    },

    // #11 get_numeric_gaps
    "q_numeric_gaps" -> { (s, dir) =>
      val iv = s.read
        .parquet(pq(dir, "lineitem"))
        .select(
          col("l_suppkey"),
          col("l_quantity").as("s_num"),
          (col("l_quantity") + 2.0).as("e_num"))
      Intervals
        .gapViolations(
          s,
          DataRef(FrameSource(iv, "qty_intervals")),
          Seq("l_suppkey"),
          "s_num",
          "e_num",
          Intervals.numericGapCondition(3.0))
        .select(col("l_suppkey"))
        .distinct()
    },

    // #33/#34 cross-CDF (forward-filled full outer join of two ECDFs)
    "q_cross_cdf" -> { (s, dir) =>
      val r1 = ref(dir, "lineitem", Some(Seq("l_extendedprice")), Some("l_returnflag = 'R'"))
      val r2 = ref(dir, "lineitem", Some(Seq("l_extendedprice")), Some("l_returnflag = 'A'"))
      Stats.crossCdf(s, r1, r2, "val", "cdf")
    },

    // #35 get_ks_2sample
    "q_ks_2sample" -> { (s, dir) =>
      val r1 = ref(dir, "lineitem", Some(Seq("l_extendedprice")), Some("l_returnflag = 'R'"))
      val r2 = ref(dir, "lineitem", Some(Seq("l_extendedprice")), Some("l_returnflag = 'A'"))
      val d  = Stats.ks2Sample(s, r1, r2)
      one(s, Seq("ks_d"), Seq(Double.box(d)))
    },

    // #36 get_regex_violations (aggregated over DISTINCT values)
    "q_regex_count" -> { (s, dir) =>
      val (n, _) = Ops.getRegexViolations(
        s,
        ref(dir, "orders", Some(Seq("o_orderpriority"))),
        aggregated = true,
        regex = "^[1-3]-",
        nCounterexamples = 0)
      one(s, Seq("n_violations"), Seq(Long.box(n)))
    },
    "q_regex_sample" -> ((s, dir) =>
      ref(dir, "orders", Some(Seq("o_orderpriority")))
        .selection(s)
        .distinct()
        .where(col("o_orderpriority").isNotNull && !col("o_orderpriority").rlike("^[1-3]-"))),

    // groupby.py AggregateNumericRangeEquality: per-group collect_list vs range
    "q_groupby_range" -> ((s, dir) =>
      ref(dir, "lineitem", Some(Seq("l_orderkey", "l_linenumber")))
        .selection(s)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_linenumber"))).as("arr"))
        .where(col("arr") =!= sequence(lit(1), size(col("arr"))))
        .select(col("l_orderkey")))
  )

  // ---------------------------------------------------------------------
  // Training-data pipeline operators (beyond-reference pack): dedup,
  // similarity search, text analysis, multimodal plumbing — each over the
  // driver's documents/embeddings tables.
  // ---------------------------------------------------------------------
  private def trainingQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text analysis: token counts + character-ratio quality signals
    "q_text_stats" -> { (s, dir) =>
      val t = col("text")
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(t).cast("bigint").as("n_tokens"),
        graft.ops.TextAnalysis.bpeishTokenCount(t).cast("bigint").as("n_bpeish"),
        round(graft.ops.TextAnalysis.punctRatio(t), 6).as("punct_ratio"),
        round(graft.ops.TextAnalysis.stopwordRatio(t), 6).as("stop_ratio"))
    },

    // PII scan + redaction (emails/URLs/phones): the corpus text is
    // deterministically enriched with known PII on id-derived rows so the
    // counts and the redacted-text hash are non-trivial on both engines
    "q_pii_scan" -> { (s, dir) =>
      import graft.ops.TextAnalysis._
      val t = concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" contact bob@example.com or +1 (555) 123-4567")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" see https://example.com/data?x=1&y=2")).otherwise(lit("")))
      s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          emailCount(t).cast("bigint").as("n_emails"),
          urlCount(t).cast("bigint").as("n_urls"),
          phoneCount(t).cast("bigint").as("n_phones"),
          md5(redactPii(t).cast("binary")).as("redacted_md5"))
    },

    // encoding health (ops.Encoding): deterministic non-ASCII suffixes are
    // CORRUPTED in-plan (UTF-8 bytes re-read as Latin-1 via encode/decode —
    // the classic mojibake), profiled, and repaired; the repair must
    // round-trip back to the original exactly. The oracle recomputes mark
    // and control counts with the identical regex over the identical
    // corrupted literals, and pins the repair round-trip as all-green.
    "q_encoding_profile" -> { (s, dir) =>
      import graft.ops.Encoding
      val suffixes = Seq(
        " café déjà vu",
        " naïve façade",
        " price 20€ – ok",
        " Gefühl größer")
      val original = concat(
        col("text"),
        element_at(
          array(suffixes.map(lit): _*),
          (col("doc_id") % 4 + 1).cast("int")))
      val corrupted = decode(encode(original, "UTF-8"), "ISO-8859-1")
      s.read
        .parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          Encoding.mojibakeMarks(corrupted).cast("bigint").as("mojibake_marks"),
          Encoding.controlChars(corrupted).cast("bigint").as("control_chars"),
          (Encoding.fixMojibake(corrupted) === original).cast("string").as("repaired_ok"),
          (Encoding.fixMojibake(corrupted) =!= corrupted).cast("string").as("enc_changed"))
    },

    // Unicode NFC normalization (functions.UnicodeNormalize): deterministic
    // DECOMPOSED suffixes (e+U+0301, A+U+030A, o+U+0308) plus an
    // NFC-invariant katakana run and a precomposed é are appended in-plan,
    // normalized, and measured — the codepoint counts shrink exactly where
    // composition happened, and the oracle is DuckDB's native nfc_normalize
    // over the identical construction
    "q_nfc_normalize" -> { (s, dir) =>
      // the literal below is DECOMPOSED on purpose: cafe+U+0301,
      // A+U+030A, o+U+0308, then NFC-invariant katakana and a
      // precomposed U+00E9 (already-normalized path)
      val suffix = lit(
        " café Ångström カタ café")
      val raw = concat(substring(col("text"), 1, 40), suffix)
      val normed = graft.ops.TextAnalysis.unicodeNormalize(raw, "NFC")
      s.read
        .parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          normed.as("nfc_text"),
          length(raw).cast("bigint").as("raw_chars"),
          length(normed).cast("bigint").as("nfc_chars"))
    },

    // composite quality score
    "q_quality_score" -> { (s, dir) =>
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        round(graft.ops.TextAnalysis.qualityScore(col("text")), 6).as("quality"))
    },

    // language-ID heuristic (stopword-count argmax)
    "q_langid" -> { (s, dir) =>
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        graft.ops.TextAnalysis.langId(col("text")).as("lang_pred"))
    },

    // md5 content fingerprint of the normalized text
    "q_fingerprint" -> { (s, dir) =>
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        graft.ops.TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
    },

    // end-to-end corpus curation: language gate → quality gate → exact
    // dedup, one declarative plan (ops.Pipeline)
    "q_curate_corpus" -> { (s, dir) =>
      graft.ops.Pipeline
        .curateCorpus(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          minQuality = 0.55, langs = Seq("en"))
        .select(col("doc_id"))
    },

    // exact-duplicate groups on a normalized 20-char prefix key
    "q_dedup_exact" -> { (s, dir) =>
      s.read.parquet(pq(dir, "documents"))
        .select(substring(col("text"), 1, 20).as("k"), col("doc_id"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .where(col("n_docs") > 1)
    },

    // C4-style paragraph dedup: the corpus has no newlines, so the query
    // synthesizes paragraph structure with a deterministic LITERAL replace
    // (' table ' -> newline boundary; left-to-right non-overlapping scan,
    // identical in both engines), then drops every repeated paragraph
    // beyond its first (doc_id, position) occurrence and reassembles
    "q_paragraph_dedup" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .withColumn(
          "text",
          expr("replace(text, ' table ', concat(chr(10), 'table '))"))
      graft.ops.Dedup
        .dedupParagraphs(docs, "text", "doc_id")
        .select(col("doc_id"), col("text"))
    },

    // Gopher document-quality rules (Rae et al. 2021): per-doc signals +
    // composite keep flag, all codegen'd column expressions (one
    // projection, zero shuffle). Integer-exact char totals and dyadic
    // divisions keep every signal bit-identical to the oracle's recompute.
    "q_gopher_filter" -> { (s, dir) =>
      graft.ops.TextAnalysis
        .gopherRules(s.read.parquet(pq(dir, "documents")), "text", minWords = 40)
        .select(
          col("doc_id"),
          col("n_words"),
          round(col("mean_word_chars"), 6).as("mean_word_chars"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("bullet_line_frac"), 6).as("bullet_line_frac"),
          round(col("ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
          round(col("alpha_word_frac"), 6).as("alpha_word_frac"),
          col("stopword_count"),
          col("gopher_keep"))
    },

    // URL parsing + canonical normalization (ops.Web): a deterministic
    // messy URL per doc (mixed-case scheme/host, default + explicit ports,
    // trailing slashes, utm_* tracking params, fragments) is parsed and
    // canonicalized with portable regex/HOF column functions; the oracle
    // rebuilds the same URLs and re-derives every part with the identical
    // regexes in DuckDB — the regex semantics are what's cross-checked.
    "q_url_normalize" -> { (s, dir) =>
      import graft.ops.Web
      val docs = s.read.parquet(pq(dir, "documents"))
        .withColumn("url", synthUrlCol)
      Web.urlProfile(docs, "url")
        .select(
          col("doc_id"),
          col("url_scheme"),
          col("url_host"),
          col("url_domain"),
          col("url_path"),
          col("url_norm"))
    },

    // registered-domain rollup over the same synthesized URLs: doc counts,
    // distinct hosts, corpus share per domain — one partial-agg shuffle +
    // broadcast total
    "q_domain_stats" -> { (s, dir) =>
      import graft.ops.Web
      val docs = s.read.parquet(pq(dir, "documents"))
        .withColumn("url", synthUrlCol)
      Web.domainStats(docs, "url")
        .select(
          col("url_domain"),
          col("n_docs"),
          col("n_hosts"),
          round(col("doc_share"), 6).as("doc_share"))
    },

    // cross-document boilerplate removal (CCNet/C4-style): units appearing
    // in ≥ ceil(0.9 · source-doc-count) distinct docs of the same source
    // are stripped everywhere and the survivors reassembled in order;
    // fully-stripped docs stay with empty text. One countDistinct shuffle
    // + broadcast group counts + fingerprint join — oracle recomputes the
    // document-frequency threshold directly.
    "q_boilerplate" -> { (s, dir) =>
      graft.ops.Dedup
        .removeBoilerplate(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          delimiter = " ", minDocFraction = 0.9, minDocs = 2,
          groupCol = Some("source"))
        .select(col("doc_id"), col("text"), col("n_units"), col("n_removed"))
    },

    // exact-substring span dedup (window-fingerprint flavor): per-doc
    // duplicated-token coverage from non-first occurrences of 8-token
    // windows, span union via per-doc sweep
    "q_span_dedup" -> { (s, dir) =>
      graft.ops.Dedup
        .duplicatedSpans(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          windowTokens = 8)
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"), col("dup_frac"))
    },

    // exact-substring span REMOVAL: same flags as q_span_dedup, covered
    // tokens excised, survivors reassembled in order (normalized stream)
    "q_span_removal" -> { (s, dir) =>
      graft.ops.Dedup
        .removeDuplicatedSpans(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          windowTokens = 8)
        .select(col("doc_id"), col("text"))
    },

    // cross-corpus near-dup containment: even-id docs as "train", odd-id
    // docs as "eval" — pairs across the split only. Same recall posture as
    // q_minhash_dedup (64 hashes / 16 bands ≈ brute force on this corpus),
    // so the exact cross inverted-index Jaccard is the oracle.
    "q_cross_neardup" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Dedup.crossNearDups(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        "text", "doc_id", threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },

    // incremental dedup against a PERSISTED corpus index: the odd half is
    // the already-ingested corpus (fingerprinted once into a DedupIndex —
    // bucketed signature/bucket/size tables on disk), the even half is the
    // arriving shard. Output is bit-identical to the batch
    // crossNearDups(even, odd) recompute (DedupIndexSpec pins it), so the
    // same exact-Jaccard oracle serves both. The index is keyed by the
    // data dir + corpus file bytes and REUSED when present — the
    // operational contract at 100 TB: build once, dedup every subsequent
    // shard against it without re-fingerprinting the corpus.
    "q_incremental_dedup" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val path = cachedIndexPath(dir, "documents", "dedup_index") { p =>
        graft.sources.DedupIndex.build(
          docs.where(col("doc_id") % 2 === 1), "text", "doc_id", p)
      }
      graft.sources.DedupIndex
        .incrementalNearDups(
          docs.where(col("doc_id") % 2 === 0), "text", path, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },

    // top-k ANN from a PERSISTED IVF index: quantizer fit + corpus→cell
    // assignment paid once into a cell-sorted bucketed postings table
    // (built/reused via the same content-fingerprint cache as
    // q_incremental_dedup), queries served by probing cells off the index
    // — the probed-cell isin pushes into the parquet scan (AnnIndexSpec
    // pins the plan). nProbe = nCells here, so the result is EXACT top-k:
    // the same brute-force oracle as q_embedding_topk checks the whole
    // build/open/query path end-to-end.
    "q_indexed_ann" -> { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val path = cachedIndexPath(dir, "embeddings", "ann_index") { p =>
        graft.sources.AnnIndex.build(
          vecs, "vec_id", "embedding", p, nCentroids = 8, kmeansIters = 0)
      }
      graft.sources.AnnIndex
        .queryTopK(
          vecs.where(col("vec_id") < 5), "vec_id", "embedding", path,
          k = 3, nProbe = 8)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },

    // product-quantization encode (Jégou 2011): bit-reproducible seed
    // codebooks (first-16-by-id vectors, 4 subspaces × 16 dims), every
    // vector → 4 smallint codes via the native argmin kernel
    // (functions.PqCodes). The oracle re-derives the codebooks and the
    // per-subspace argmin in SQL — same sequential double arithmetic,
    // same ties-to-smallest-codeword.
    "q_pq_encode" -> { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val cb = graft.ops.Pq.seedCodebooks(vecs, "vec_id", "embedding", m = 4, ks = 16)
      graft.ops.Pq.withCodes(vecs, "embedding", cb)
        .select(col("vec_id"), posexplode(col("pq_codes")))
        .select(
          col("vec_id"),
          col("pos").cast("bigint").as("subspace"),
          col("col").cast("bigint").as("code"))
    },

    // asymmetric-distance top-k over the PQ codes: per-query LUT of
    // query-slice·codeword dots, every corpus code scored with 4 lookups,
    // ranked by the approximate dot. The oracle recomputes codes, then the
    // per-subspace inner products summed in subspace order (pivoted
    // left-assoc sum — DuckDB's sum() aggregates in arbitrary order and
    // drifts 1 ulp otherwise).
    "q_pq_adc" -> { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val cb = graft.ops.Pq.seedCodebooks(vecs, "vec_id", "embedding", m = 4, ks = 16)
      graft.ops.Pq
        .adcTopK(vecs, vecs.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 3, codebooks = cb)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("adc_dot"), 6).as("adc_dot"),
          col("rank").cast("bigint").as("rank"))
    },

    // top-k from the PQ-carrying persisted index: codes round-trip through
    // the bucketed postings, the ADC prefilter + LUT machinery runs end to
    // end, and at exhaustive settings (every cell probed, pool covering
    // the corpus) the exact rerank makes the result brute-force top-k —
    // the same oracle as q_indexed_ann. ADC VALUE correctness is oracled
    // separately (q_pq_adc); this gate checks the persisted-codes path.
    "q_indexed_pq" -> { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val path = cachedIndexPath(dir, "embeddings", "ann_pq_index") { p =>
        graft.sources.AnnIndex.build(
          vecs, "vec_id", "embedding", p,
          nCentroids = 8, kmeansIters = 0, pq = Some((4, 16)), pqIters = 0)
      }
      graft.sources.AnnIndex
        .queryTopKPq(
          vecs.where(col("vec_id") < 5), "vec_id", "embedding", path,
          k = 3, nProbe = 8, poolFactor = Int.MaxValue)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },

    // the append→compact index lifecycle under the gate: corpus index
    // built from the %3==1 third, the %3==2 third APPENDED (one more
    // file-set layered per bucketed table), then COMPACTED back to one
    // file-set per bucket — the shuffle-free rewrite must leave the
    // incremental answer bit-identical to the batch crossNearDups
    // recompute of shard (%3==0) vs corpus (the other two thirds), which
    // the exact cross-Jaccard oracle checks end to end.
    "q_compacted_dedup" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val path = cachedIndexPath(dir, "documents", "dedup_compact_index") { p =>
        graft.sources.DedupIndex.build(
          docs.where(col("doc_id") % 3 === 1), "text", "doc_id", p)
        graft.sources.DedupIndex.append(
          docs.where(col("doc_id") % 3 === 2), "text", p): Unit
        graft.sources.DedupIndex.compact(s, p): Unit
      }
      graft.sources.DedupIndex
        .incrementalNearDups(
          docs.where(col("doc_id") % 3 === 0), "text", path, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },

    // the REBUILD (re-band) half of the dedup-index lifecycle (r12 verdict
    // task 4's generation scheme, oracle-gated): build → append → rebuild
    // to 32 bands (rows-per-band 2 — a superset of the 16-band discovery,
    // so the exact-jaccard verify still reproduces the full pair set) →
    // dedup a shard against the re-banded generation. The cap is lifted
    // for the gate (maxBucketSize high) so banding recall is the only
    // discovery variable and the all-pairs oracle stays exact.
    "q_rebanded_dedup" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val path = cachedIndexPath(dir, "documents", "dedup_reband_index") { p =>
        graft.sources.DedupIndex.build(
          docs.where(col("doc_id") % 3 === 1), "text", "doc_id", p)
        graft.sources.DedupIndex.append(
          docs.where(col("doc_id") % 3 === 2), "text", p): Unit
        graft.sources.DedupIndex.rebuild(s, p, bands = 32): Unit
      }
      graft.sources.DedupIndex
        .incrementalNearDups(
          docs.where(col("doc_id") % 3 === 0), "text", path,
          threshold = 0.6, maxBucketSize = 1000000)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },

    // the REBUILD (quantizer refit) half of the ann-index lifecycle: build
    // on half the corpus, append the other half (drifting the frozen
    // 8-cell geometry), rebuild to 16 cells — a new generation, atomic
    // meta flip — then answer with EVERY cell probed: exhaustive probing
    // ranks over all vectors, so brute-force top-k is the exact oracle
    // regardless of the refit geometry (the q_indexed_ann shape).
    "q_rebuilt_ann" -> { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val path = cachedIndexPath(dir, "embeddings", "ann_rebuild_index") { p =>
        graft.sources.AnnIndex.build(
          vecs.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p,
          nCentroids = 8, kmeansIters = 0)
        graft.sources.AnnIndex.append(
          vecs.where(col("vec_id") % 2 === 1), p): Unit
        graft.sources.AnnIndex.rebuild(
          s, p, nCentroids = Some(16), kmeansIters = Some(0)): Unit
      }
      val nCells = graft.sources.AnnIndex.readMeta(path).nCells
      graft.sources.AnnIndex
        .queryTopK(
          vecs.where(col("vec_id") < 5), "vec_id", "embedding", path,
          k = 3, nProbe = nCells)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },

    // the persisted-index tiers of annTopKAuto (r11 verdict task 3): with
    // an indexPath the auto dispatch must answer from the index —
    // bit-identical to AnnIndex.queryTopK at the flat-auto geometry — and
    // the forced compressed tier (pqMinCorpus = 1) must answer through the
    // ADC prefilter at a RECALL-TARGETED auto pool factor whose measured
    // recall against the uncompressed answer clears the floor. Dispatch
    // decisions and arithmetic are deterministic, so the all-green row is
    // a stable hash target (the q_streaming_sessions gate pattern).
    "q_indexed_auto" -> { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val n = vecs.count()
      val k = 10
      val (cents, nProbe) = graft.ops.Similarity.ivfAutoParams(n, k)
      val path = cachedIndexPath(dir, "embeddings", "ann_auto_index") { p =>
        // pre-build at the BIT-REPRODUCIBLE geometry (kmeansIters = 0 —
        // Lloyd rounds lose summation-order determinism and this gate is
        // a hash target); the annTopKAuto calls below pass the same
        // buildKmeansIters = 0, so the geometry the dispatch would build
        // if the cache were cold is exactly the one validated here
        graft.sources.AnnIndex.build(
          vecs, "vec_id", "embedding", p, nCentroids = cents,
          kmeansIters = 0, corpusSize = Some(n),
          pq = Some((8, 256)), pqIters = 1): Unit
      }
      def ids(df: DataFrame) = df
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val queries = vecs.where(col("vec_id") < 10)
      val auto = ids(graft.ops.Similarity.annTopKAuto(
        vecs, queries, "vec_id", "embedding", k, corpusSize = n,
        indexPath = Some(path), buildKmeansIters = 0))
      val direct = ids(graft.sources.AnnIndex.queryTopK(
        queries, "vec_id", "embedding", path, k, nProbe))
      val pqTier = ids(graft.ops.Similarity.annTopKAuto(
        vecs, queries, "vec_id", "embedding", k, corpusSize = n,
        indexPath = Some(path), pqMinCorpus = 1, buildKmeansIters = 0))
      graft.core.Blocks.releaseAll()
      val directIds = direct.map(t => (t._1, t._2))
      val pqRecall =
        if (directIds.isEmpty) 0.0
        else pqTier.map(t => (t._1, t._2)).count(directIds.contains)
          .toDouble / directIds.size
      one(
        s,
        Seq("indexed_matches_direct", "index_pq_carrying", "pq_recall_ok"),
        Seq(
          String.valueOf(auto == direct),
          String.valueOf(graft.sources.AnnIndex.readMeta(path).pqM == 8),
          String.valueOf(pqRecall >= 0.8)))
    },

    // n-gram Jaccard near-dup pairs (exact, inverted-index join)
    "q_ngram_jaccard" -> { (s, dir) =>
      graft.ops.Dedup
        .ngramJaccardPairs(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          shingleK = 5, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },

    // near-dup clusters: connected components over the exact-Jaccard pair
    // set (min id per component); oracled by a DuckDB recursive-CTE closure
    // over the same pairs
    "q_dedup_clusters" -> { (s, dir) =>
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id",
        shingleK = 5, threshold = 0.6)
      graft.ops.Dedup
        .connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id").cast("bigint").as("cluster_id"))
    },

    // survivorship: canonical doc per near-dup cluster — argmax text
    // length, ties to smallest id, via the associative min(struct) argmax
    // (no per-cluster window); oracled by the CC closure + a DuckDB window
    "q_cluster_reps" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
        docs, "text", "doc_id", shingleK = 5, threshold = 0.6)
      val clusters = graft.ops.Dedup.connectedComponents(pairs)
        .select(
          col("id").as("doc_id"),
          col("cluster_id").cast("bigint").as("cluster_id"))
      val members = clusters.join(
        docs.select(
          col("doc_id"), length(col("text")).cast("bigint").as("pref")),
        Seq("doc_id"))
      graft.ops.Dedup
        .clusterRepresentatives(members, "doc_id", "cluster_id", "pref")
        .select(
          col("cluster_id"), col("rep_id"), col("n_members"),
          col("rep_pref").cast("bigint").as("rep_pref"))
    },

    // MinHash+LSH near-dups, verified by exact Jaccard — with 64 hashes /
    // 16 bands recall at j>=0.9 is ~1, so the output equals brute force on
    // this corpus and shares its oracle.
    "q_minhash_dedup" -> { (s, dir) =>
      graft.ops.Dedup
        .minhashNearDups(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          shingleK = 5, numHashes = 64, bands = 16, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },

    // SimHash near-dup pairs (production xxhash64 sketch — no SQL oracle;
    // rows-only check; the pipeline LOGIC is oracle-verified by
    // q_simhash_md5 below)
    "q_simhash_pairs" -> { (s, dir) =>
      graft.ops.Dedup.simhashNearDups(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id", maxHamming = 10)
        .select(col("id1"), col("id2"), col("hamming").cast("bigint").as("hamming"))
    },

    // SimHash banding/bucketing/Hamming pipeline with an md5-derived token
    // hash BOTH engines can compute — full DuckDB oracle for the pipeline
    // logic (the production path differs only in the token hash function)
    "q_simhash_md5" -> { (s, dir) =>
      val hashes = transform(
        graft.ops.TextAnalysis.tokens(col("text")),
        tok => conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long"))
      val sketched = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.SimHash64.simhash64(hashes).as("simhash"))
      graft.ops.Dedup
        .simhashPairsFromSketch(sketched, "doc_id", maxHamming = 10)
        .select(col("id1"), col("id2"), col("hamming").cast("bigint").as("hamming"))
    },

    // winnowing fingerprints (Schleimer et al. 2003): the exploded
    // per-document fingerprint set of every third document — full XXH64
    // oracle re-derives the window-min chain declaratively
    "q_winnow_fp" -> { (s, dir) =>
      s.read.parquet(pq(dir, "documents"))
        .where(col("doc_id") % 3 === 0 && col("text").isNotNull)
        .select(col("doc_id"),
          explode(graft.ops.TextAnalysis.winnowFingerprints(col("text"), 8, 4))
            .as("fp"))
    },

    // cross-corpus substring contamination: parity-split corpus/eval,
    // per-document winnowing-fingerprint containment — the verbatim-leak
    // detector (any shared >= 11-char normalized substring is detected)
    "q_winnow_overlap" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Dedup
        .winnowContamination(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "text", "doc_id", k = 8, w = 4, minContainment = 0.5)
        .select(col("doc_id"), col("n_fp"), col("n_matched"),
          round(col("containment"), 6).as("containment"), col("flagged"))
    },

    // brute-force cosine top-3 neighbors for the first 5 vectors
    "q_embedding_topk" -> { (s, dir) =>
      val vectors = s.read.parquet(pq(dir, "embeddings"))
      val queries = vectors.where(col("vec_id") < 5)
      graft.ops.Similarity
        .bruteForceTopK(vectors, queries, "vec_id", "embedding", k = 3)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },

    // embedding-space similarity histogram: exact cosines of a
    // deterministic linear pair sample (successor vectors of every 7th
    // id — NEVER all pairs) bucketed over [-1, 1) — the embedding-health
    // profile (collapsed space → mass near 1). Cosines are bit-identical
    // cross-engine (double-accumulated dot, same order), so the bucket
    // floor can't flip.
    "q_embedding_hist" -> { (s, dir) =>
      val v = s.read.parquet(pq(dir, "embeddings"))
      val a = v.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = v.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      val cos = a
        .join(b, col("id_b") === col("id_a") + 1)
        .select(graft.ops.Similarity.cosineF(col("ea"), col("eb")).as("c"))
      graft.ops.Stats
        .histogram(cos, "c", lo = -1.0, hi = 1.0, nBuckets = 20)
        .select(col("bucket"), col("cnt"))
    },

    // LSH-bucketed approximate top-k (scale path; full DuckDB oracle — the
    // sign-bit buckets are bit-deterministic because ±1-plane dot products
    // are the same exact double-addition sequence in both engines)
    "q_embedding_lsh" -> { (s, dir) =>
      val vectors = s.read.parquet(pq(dir, "embeddings"))
      val queries = vectors.where(col("vec_id") < 5)
      graft.ops.Similarity
        .lshTopK(vectors, queries, "vec_id", "embedding", k = 3, bits = 8, dim = 64)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },

    // windowed event-stream quality profile (batch flavor of
    // streaming.StreamingChecks.windowedProfile; same plan shape Structured
    // Streaming runs incrementally with a watermark). The mean accumulates
    // in decimal on both sides: a double sum's last ulp depends on
    // summation order and can cross the 6-decimal rounding half.
    "q_events_profile" -> { (s, dir) =>
      readEvents(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(avg(col("value").cast("decimal(38,9)")), 6).cast("double").as("avg_value"),
          count(when(col("value").isNull, 1)).as("n_null"))
        .select(
          col("w.start").cast("string").as("window_start"),
          col("event_type"), col("n_events"), col("avg_value"), col("n_null"))
    },

    // backward as-of join (ops.Events.asofJoin): every click joined to the
    // user's most recent at-or-before purchase — union-tag sweep, one
    // window per user, no range join. DuckDB's native ASOF JOIN is the
    // oracle (tie-broken identically via max event_id per (user, ts)).
    "q_asof_join" -> { (s, dir) =>
      val events = readEvents(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      graft.ops.Events
        .asofJoin(
          events.where(col("event_type") === "click"),
          events.where(col("event_type") === "purchase"),
          keys = Seq("user_id"),
          leftTs = "ts",
          rightTs = "ts",
          payloadCols = Seq("event_id", "value"),
          tieBreak = Some("event_id"))
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), fmt).as("ts"),
          date_format(col("asof_ts"), fmt).as("purchase_ts"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 6).as("purchase_value"))
    },

    // trailing-window features (ops.Events.trailingAggregate): per-user
    // 1-hour rolling count + exact-decimal sum at each event — one
    // per-key RANGE window on the microsecond coordinate
    "q_trailing_window" -> { (s, dir) =>
      val events = readEvents(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      graft.ops.Events
        .trailingAggregate(
          events, "user_id", "ts", "value", trailing = 3600000000L)
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), fmt).as("ts"),
          col("trailing_count"),
          round(col("trailing_sum"), 6).as("trailing_sum"))
    },

    // forward as-of (ops.Events.asofJoin direction=forward): the NEXT
    // purchase at or after each click — the same sweep traversed
    // coordinate-descending, vs DuckDB's native ASOF with c.ts <= pd.ts
    "q_asof_forward" -> { (s, dir) =>
      val events = readEvents(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      graft.ops.Events
        .asofJoin(
          events.where(col("event_type") === "click"),
          events.where(col("event_type") === "purchase"),
          keys = Seq("user_id"),
          leftTs = "ts",
          rightTs = "ts",
          payloadCols = Seq("event_id", "value"),
          tieBreak = Some("event_id"),
          direction = "forward")
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), fmt).as("ts"),
          date_format(col("asof_ts"), fmt).as("next_ts"),
          col("asof_event_id").as("next_id"),
          round(col("asof_value"), 6).as("next_value"))
    },

    // nearest as-of (ops.Events.asofJoinNearest): whichever purchase is
    // closer in exact microseconds, ties to backward — two slim sweeps
    // merged by rowid vs the oracle's two native ASOF joins + CASE
    "q_asof_nearest" -> { (s, dir) =>
      val events = readEvents(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      graft.ops.Events
        .asofJoinNearest(
          events.where(col("event_type") === "click"),
          events.where(col("event_type") === "purchase"),
          keys = Seq("user_id"),
          leftTs = "ts",
          rightTs = "ts",
          payloadCols = Seq("event_id", "value"),
          tieBreak = Some("event_id"),
          // ts reads as TIMESTAMP_NTZ; timestamp_diff is wall-clock exact
          // on NTZ operands regardless of session tz (a session-tz cast
          // would give the two operands DIFFERENT offsets across a DST
          // transition and diverge from the oracle's epoch_us arithmetic)
          distance = Some((l, r) =>
            abs(timestamp_diff("MICROSECOND", r, l))))
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), fmt).as("ts"),
          date_format(col("asof_ts"), fmt).as("near_ts"),
          col("asof_event_id").as("near_id"),
          round(col("asof_value"), 6).as("near_value"))
    },

    // gap-based sessionization (ops.Events.sessionize + sessionProfile):
    // per-user 6-hour-gap sessions, profiled — two stacked windows on one
    // per-key sort, one shuffle; decimal-cast avg for cross-engine
    // exactness (the q_mean convention)
    "q_sessionize" -> { (s, dir) =>
      val events = readEvents(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val sess = graft.ops.Events.sessionize(
        events.withColumn("value", col("value").cast("decimal(38,9)")),
        "user_id", "ts", expr("INTERVAL 6 HOURS"))
      graft.ops.Events
        .sessionProfile(sess, "user_id", "ts", "value")
        .select(
          col("user_id"),
          col("session_id"),
          date_format(col("session_start"), fmt).as("session_start"),
          date_format(col("session_end"), fmt).as("session_end"),
          col("n_events"),
          round(col("avg_value"), 6).cast("double").as("avg_value"))
    },

    // Structured Streaming driver-gate presence (VERDICT r7 stretch): the
    // streaming session profile REPLAYED as a real file stream
    // (AvailableNow + no-data flush batch, append mode, memory sink) and
    // self-compared against the batch session_window recomputation. Append
    // mode emits exactly the sessions whose end the final watermark
    // (max event time − delay) passed — a deterministic set for a bounded
    // replay — so the emitted rows must (a) exist, (b) match their batch
    // recomputation bit-for-bit on counts and within 1e-9 on the float
    // mean, and (c) be complete w.r.t. the watermark cutoff. The oracle is
    // the constant all-green row; any streaming/batch divergence flips a
    // flag and fails the gate.
    "q_streaming_sessions" -> { (s, dir) =>
      // shared concurrent replay (streaming.Replay): all five streaming
      // gates' memory-sink views are produced by ONE replay pass per
      // (session, dir) — run serially each gate paid the full fixed
      // micro-batch setup itself and the five replays dominated the
      // streaming subtotal at sf0.1
      graft.streaming.Replay.ensure(s, dir)
      val emitted = s.table(graft.streaming.Replay.SessionsView)
      val batchEvents =
        graft.streaming.Replay.normTs(s.read.parquet(pq(dir, "events")))
      // CHECKPOINT BARRIER, not an optimization: Catalyst pushes filters on
      // grouping keys below aggregates, but a predicate on session_window's
      // start/end is NOT sound pre-merge (it drops events whose PER-ROW
      // session falls outside the bound even when merging would pull them
      // in, fabricating phantom split sessions — observed on this very
      // data). The barrier pins the merged sessions before any
      // filter/join touches them.
      val batch = graft.core.Blocks.checkpoint(
        batchEvents
          .groupBy(session_window(col("ts"), "1 hour").as("session"), col("user_id"))
          .agg(count(lit(1)).as("b_n"), avg(col("value")).as("b_avg"))
          .select(
            col("user_id"),
            col("session.start").as("session_start"),
            col("session.end").as("session_end"),
            col("b_n"), col("b_avg")))
      try {
        val joined =
          emitted.join(batch, Seq("user_id", "session_start", "session_end"), "left")
        val nEmitted = emitted.count()
        val nMismatch = joined
          .where(
            col("b_n").isNull || col("n_events") =!= col("b_n") ||
              !(abs(col("avg_value") - col("b_avg")) < 1e-9 ||
                (col("avg_value").isNull && col("b_avg").isNull)))
          .count()
        val cutoff = batchEvents.agg(max(col("ts"))).head().getAs[Any](0)
        val nExpected = batch
          .where(col("session_end") <= lit(cutoff) - expr("INTERVAL 2 HOURS"))
          .count()
        one(
          s,
          Seq("emitted_nonempty", "all_match", "complete"),
          Seq(
            String.valueOf(nEmitted > 0),
            String.valueOf(nMismatch == 0),
            String.valueOf(nEmitted == nExpected)))
      } finally graft.core.Blocks.release(batch)
    },

    // bucketed range join (ops.RangeJoin): order dates as points joined
    // into sampled order-date windows — the non-equi predicate Spark would
    // plan as a nested loop, rewritten as explode-to-buckets + equi-join +
    // residual. The oracle runs the naive inequality join directly.
    "q_range_join" -> { (s, dir) =>
      val orders = s.read.parquet(pq(dir, "orders"))
      def day(c: org.apache.spark.sql.Column) =
        datediff(c, lit("1970-01-01")).cast("long")
      val ivs = orders.where(col("o_orderkey") % 97 === 0)
        .select(
          col("o_orderkey").as("interval_id"),
          day(col("o_orderdate")).as("start_day"),
          (day(col("o_orderdate")) + col("o_orderkey") % 5 + 3).as("end_day"))
      val pts = orders.where(col("o_orderkey") % 89 === 0)
        .select(
          col("o_orderkey").as("point_id"),
          day(col("o_orderdate")).as("point_day"))
      graft.ops.RangeJoin
        .rangeJoin(pts, ivs, "point_day", "start_day", "end_day")
        .select("point_id", "interval_id", "point_day", "start_day", "end_day")
    },

    // multimodal plumbing: binary payloads (text bytes stand in for media)
    // → deterministic stub features via per-partition batch transform
    "q_multimodal_features" -> { (s, dir) =>
      val media = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val feats = graft.ops.Multimodal.extractFeatures(media, "doc_id", "payload", dim = 8)
      feats.select(
        col("doc_id"),
        round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
        round(element_at(col("features"), 8).cast("double"), 6).as("f7"))
    },

    // image decode round-trip (REAL javax.imageio encode -> decode): per
    // doc_id, synthesize a uniform-gray PNG whose dimensions and gray level
    // are pure functions of the id, decode it back with ImageIO, and emit
    // header-parsed width (column functions on the IHDR bytes) next to the
    // decoded dimensions and integral mean luminance. DuckDB computes the
    // same values arithmetically -- the oracle verifies the codec path
    // end-to-end, not a stub.
    "q_image_decode" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 17 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val pngs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeGrayPng(
              width = 1 + (id % 7).toInt,
              height = 1 + (id % 5).toInt,
              gray = (id % 256).toInt))
        },
        schema)
      // cached: both the decode branch and the header-metadata branch read
      // the synthesized payloads — uncached, each oracle row would pay the
      // PNG encode (and the source scan) twice
      val withMeta = Multimodal.withMediaMeta(pngs, "payload").cache()
      Multimodal
        .decodeImages(withMeta, "doc_id", "payload")
        .join(
          withMeta.select(col("doc_id"), col("media_meta")), Seq("doc_id"))
        .select(
          col("doc_id"),
          col("media_meta.width").as("hdr_width"),
          col("width"),
          col("height"),
          round(col("mean_luma"), 6).cast("long").as("mean_gray"))
    },

    // image resize round-trip (REAL bilinear Graphics2D scale + PNG
    // re-encode): synth gray PNGs -> resize to a fixed 3x2 -> decode. A
    // bilinear scale of a uniform image preserves the gray level exactly, so
    // DuckDB again recomputes the expectation arithmetically
    "q_image_resize" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 23 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val pngs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeGrayPng(
              width = 1 + (id % 7).toInt,
              height = 1 + (id % 5).toInt,
              gray = (id % 256).toInt))
        },
        schema)
      val resized = Multimodal.resizeImages(pngs, "doc_id", "payload", 3, 2)
      Multimodal
        .decodeImages(resized, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("width"),
          col("height"),
          round(col("mean_luma"), 6).cast("long").as("mean_gray"))
    },

    // perceptual image hash (dHash): REAL PNG encode -> ImageIO decode ->
    // integer-exact 9x8 pooled difference hash on synthesized gradient
    // images at two scales; the oracle re-derives every bit in closed form
    "q_image_dhash" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 17 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val pngs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val sc = 1 + (id % 2).toInt
          val w = 9 * sc
          val h = 8 * sc
          val px = Array.tabulate(w * h) { i =>
            val x = i % w
            val y = i / w
            ((id * 31 + x * 7 + y * 3) % 256).toInt
          }
          org.apache.spark.sql.Row(id, Multimodal.encodeGrayPngPixels(w, h, px))
        },
        schema)
      Multimodal.imageDHashes(pngs, "doc_id", "payload")
        .select(col("doc_id"), col("dhash"))
    },

    // audio decode round-trip (REAL RIFF/WAV 16-bit PCM parse, pure byte
    // work): per doc_id, synthesize a two-level square wave (+A / -B
    // alternating) whose amplitudes, length, and sample rate are functions
    // of the id, encode as canonical WAV, decode back, and emit the
    // header-parsed rate (little-endian column functions) next to the
    // decoded stats. Sums accumulate losslessly in Longs and every division
    // has an exactly-representable result, so DuckDB recomputes rms /
    // mean_abs / duration bit-identically from the closed forms.
    "q_audio_decode" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 19 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val wavs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val sr = 8000 + (id % 5).toInt * 1000
          val ampA = ((id % 997) + 1).toInt
          val ampB = (((id * 7) % 997) + 1).toInt
          val nPairs = 32 + (id % 16).toInt
          val samples = new Array[Short](2 * nPairs)
          var i = 0
          while (i < nPairs) {
            samples(2 * i) = ampA.toShort
            samples(2 * i + 1) = (-ampB).toShort
            i += 1
          }
          org.apache.spark.sql.Row(id, Multimodal.encodePcmWav(sr, 1, samples))
        },
        schema)
      // cached for the same reason as q_image_decode: the decode branch and
      // the header-metadata branch both read the synthesized payloads
      val withMeta = Multimodal.withMediaMeta(wavs, "payload").cache()
      Multimodal
        .decodeAudios(withMeta, "doc_id", "payload")
        .join(
          withMeta.select(col("doc_id"), col("media_meta")), Seq("doc_id"))
        .select(
          col("doc_id"),
          col("media_meta.sample_rate").as("hdr_rate"),
          col("sample_rate"),
          col("channels"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"),
          round(col("mean_abs"), 6).as("mean_abs"),
          col("peak"))
    },

    // G.711 telephony-audio decode round-trip (REAL mu-law/A-law companding,
    // ITU-T spec arithmetic): per doc_id, synthesize raw companded BYTES as a
    // direct function of (id, position), wrap them in a format-7/format-6 WAV,
    // decode, and emit amplitude stats. The oracle re-derives every 16-bit
    // sample from the same byte formula with the G.711 expansion spelled in
    // SQL — the decode tables themselves are cross-checked, not just the
    // container walk. Integer sums are exact; the two divisions and the sqrt
    // are identical IEEE ops on identical inputs.
    "q_audio_g711" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 29 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val wavs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val n = (24 + id % 8).toInt
          val bytes =
            Array.tabulate[Byte](n)(i => ((id * 31 + i.toLong * 7) % 256).toByte)
          org.apache.spark.sql.Row(
            id, Multimodal.encodeG711Wav(8000, 1, mulaw = id % 2 == 0, bytes))
        },
        schema)
      Multimodal
        .decodeAudios(wavs, "doc_id", "payload")
        .select(
          col("doc_id"),
          when(col("doc_id") % 2 === 0, "mulaw").otherwise("alaw").as("law"),
          col("sample_rate"),
          col("n_frames"),
          col("peak"),
          round(col("mean_abs"), 6).as("mean_abs"),
          round(col("rms"), 6).as("rms"))
    },

    // time-domain audio features (REAL decode + one-pass ZCR / DC-offset):
    // three waveform shapes per id class — constant (no crossings, DC = A),
    // alternating ±(A,B) (every adjacent pair crosses), block wave (one
    // crossing) — exercise the sign-flip counter and the signed-sum mean.
    // All closed forms: integer crossings, dyadic DC offsets.
    "q_audio_features" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 13 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val wavs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val m = 16 + (id % 8).toInt
          val a = ((id % 500) + 1).toInt
          val b = (((id * 3) % 500) + 1).toInt
          val samples = (id % 3) match {
            case 0 => Array.fill[Short](2 * m)(a.toShort)
            case 1 => Array.tabulate[Short](2 * m)(i =>
              if (i % 2 == 0) a.toShort else (-b).toShort)
            case _ => Array.tabulate[Short](2 * m)(i =>
              if (i < m) a.toShort else (-b).toShort)
          }
          org.apache.spark.sql.Row(id, Multimodal.encodePcmWav(8000, 1, samples))
        },
        schema)
      Multimodal
        .decodeAudios(wavs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("n_frames"),
          col("zero_crossings"),
          round(col("dc_offset"), 6).as("dc_offset"))
    },

    // IMA ADPCM round-trip (REAL 4:1-compressed audio decode, public IMA
    // spec): per doc_id, synthesize raw packed nibble BYTES as a function
    // of (id, position) plus a block-header (predictor, step index), wrap
    // as a format-0x11 WAV, decode through the step-table recurrence, and
    // emit amplitude stats. The oracle re-derives EVERY decoded sample
    // with the same recurrence as a recursive CTE in SQL — the step/index
    // tables and clamping arithmetic are cross-engine-verified.
    "q_audio_adpcm" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 61 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val wavs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val n = (16 + id % 8).toInt
          val bytes =
            Array.tabulate[Byte](n)(j => ((id * 31 + 7L * j) % 256).toByte)
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeImaAdpcmWav(
              8000,
              predictor0 = ((id % 1000) - 500).toInt,
              stepIndex0 = (id % 89).toInt,
              packedNibbles = bytes))
        },
        schema)
      Multimodal
        .decodeAudios(wavs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("n_frames"),
          col("peak"),
          col("zero_crossings"),
          round(col("mean_abs"), 6).as("mean_abs"),
          round(col("rms"), 6).as("rms"))
    },

    // AIFF decode round-trip (REAL big-endian FORM/AIFF chunk walk + 80-bit
    // extended-float sample rate): the same two-level square wave as
    // q_audio_decode, but through the Apple container — the oracle recomputes
    // the closed forms, verifying the big-endian path end-to-end
    "q_audio_aiff" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 31 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val aiffs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val sr = 8000 + (id % 5).toInt * 1000
          val ampA = ((id % 997) + 1).toInt
          val ampB = (((id * 7) % 997) + 1).toInt
          val nPairs = 32 + (id % 16).toInt
          val samples = new Array[Short](2 * nPairs)
          var i = 0
          while (i < nPairs) {
            samples(2 * i) = ampA.toShort
            samples(2 * i + 1) = (-ampB).toShort
            i += 1
          }
          org.apache.spark.sql.Row(id, Multimodal.encodeAiff(sr, 1, samples))
        },
        schema)
      Multimodal
        .decodeAudios(aiffs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("sample_rate"),
          col("channels"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"),
          round(col("mean_abs"), 6).as("mean_abs"),
          col("peak"))
    },

    // MP4/ISO-BMFF container-metadata round-trip (REAL box walk, ISO
    // 14496-12): synthesize a minimal conforming MP4 (ftyp + moov[mvhd +
    // n x trak[tkhd]]) whose timescale/duration/track dims are functions of
    // doc_id, parse it back, and emit the header fields a pipeline filters
    // on before any codec runs. The oracle recomputes the closed forms —
    // duration_ms is the one double, exact-integer inputs both sides.
    "q_video_meta" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 41 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val mp4s = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val w = 16 * (1 + (id % 8).toInt)
          val h = 16 * (1 + (id % 5).toInt)
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeMinimalMp4(
              timescale = 600 + (id % 7).toInt * 100,
              duration = 1200 + (id % 601).toInt,
              tracks = Seq.fill(1 + (id % 3).toInt)((w, h))))
        },
        schema)
      Multimodal
        .videoMeta(mp4s, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("brand"),
          col("timescale"),
          col("duration"),
          round(col("duration_ms"), 6).as("duration_ms"),
          col("n_tracks"),
          col("width"),
          col("height"))
    },

    // Y4M (YUV4MPEG2) video FRAME decode round-trip (REAL frame decode —
    // the yuv4mpegpipe interchange format carries raw planar YUV, so pixel
    // access needs no codec library): per doc_id, synthesize a multi-frame
    // stream whose geometry / rational fps / chroma layout / per-frame plane
    // constants are functions of the id, then really walk the FRAME records
    // and compute exact plane means for every 2nd frame (skipped frames are
    // never read — the select-every-Nth contract, now on a real container).
    // One row per sampled frame; the oracle recomputes every field in
    // closed form, mono rows with NULL chroma.
    "q_y4m_frames" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 37 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val streams = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val cs = (id % 4) match {
            case 0 => "420jpeg"
            case 1 => "422"
            case 2 => "444"
            case _ => "mono"
          }
          val frames = (0 until (3 + (id % 5).toInt)).map { f =>
            (((id * 13 + 7L * f) % 256).toInt,
              ((id * 5 + 11L * f) % 256).toInt,
              ((id * 3 + 17L * f) % 256).toInt)
          }
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeY4m(
              width = 4 + 2 * (id % 3).toInt,
              height = 4 + 2 * (id % 2).toInt,
              fpsNum = 24 + (id % 6).toInt,
              fpsDen = 1 + (id % 2).toInt,
              colorspace = cs,
              frames = frames))
        },
        schema)
      Multimodal
        .decodeY4mFrames(streams, "doc_id", "payload", frameStride = 2)
        .select(
          col("doc_id"),
          col("width"),
          col("height"),
          col("fps_num"),
          col("fps_den"),
          col("colorspace"),
          col("n_frames"),
          col("frame_idx"),
          col("mean_y"),
          col("mean_u"),
          col("mean_v"))
    },

    // Animated-GIF frame extraction round-trip (REAL multi-frame decode via
    // the JDK's ImageIO GIF plugin — LZW-compressed frames, so this is real
    // codec work, not raw bytes): per doc_id synthesize a GIF89a animation
    // of solid-gray frames, count + decode every 2nd stored frame, emit its
    // mean luminance. Solid frames survive palette quantization exactly, so
    // the oracle recomputes the gray levels in closed form.
    "q_gif_frames" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 53 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val gifs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val grays = (0 until (2 + (id % 4).toInt))
            .map(f => ((id * 11 + 29L * f) % 256).toInt)
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeGifAnim(
              width = 2 + (id % 5).toInt,
              height = 2 + (id % 3).toInt,
              grays = grays))
        },
        schema)
      Multimodal
        .gifFrames(gifs, "doc_id", "payload", frameStride = 2)
        .select(
          col("doc_id"),
          col("n_frames"),
          col("frame_idx"),
          col("width"),
          col("height"),
          round(col("mean_luma"), 6).cast("long").as("mean_gray"))
    },

    // MJPEG-in-AVI round-trip: a REAL perceptual-codec decode (ImageIO
    // JPEG — DCT + dequantization) inside a real RIFF container. Constant
    // 16x16 frames at gray 4+8m: JPEG's DC quantization shifts the decoded
    // mean by <3 levels (PipelineOpsSpec pins the bound), so
    // floor(mean_luma/8) recovers m EXACTLY and the oracle re-derives it
    // closed-form — a lossy codec behind a lossless gate.
    "q_avi_frames" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 59 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val avis = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val grays = (0 until (2 + (id % 3).toInt))
            .map(f => 4 + 8 * (((id * 7 + 13L * f) % 31).toInt))
          org.apache.spark.sql.Row(
            id, Multimodal.encodeMjpegAvi(width = 16, height = 16, grays = grays))
        },
        schema)
      Multimodal
        .aviFrames(avis, "doc_id", "payload", frameStride = 2)
        .select(
          col("doc_id"),
          col("n_frames"),
          col("frame_idx"),
          col("width"),
          col("height"),
          floor(col("mean_luma") / 8).cast("long").as("luma_bucket"))
    },

    // FLAC STREAMINFO round-trip (REAL bit-packed header parse, public FLAC
    // spec): synthesize a minimal header (magic + STREAMINFO) whose
    // rate/channels/bps/total-samples are functions of doc_id — total spans
    // the 36-bit field past the 32-bit line — parse it back, and emit the
    // fields an audio-curation pipeline filters on. The oracle recomputes
    // the closed forms; duration_ms is the one double, exact-integer inputs.
    "q_flac_meta" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 43 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val flacs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeFlacHeader(
              sampleRate = 8000 + (id % 11).toInt * 4000,
              channels = 1 + (id % 8).toInt,
              bitsPerSample = 8 + (id % 25).toInt,
              totalSamples = 1000L + (id % 7) * 8589934592L))
        },
        schema)
      Multimodal
        .flacMeta(flacs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("sample_rate"),
          col("channels"),
          col("bits_per_sample"),
          col("total_samples"),
          round(col("duration_ms"), 6).as("duration_ms"))
    },

    // MP3/MPEG-audio frame-header round-trip (REAL Layer III bit-field
    // parse + ID3v2 syncsafe skip + frame walk, ISO 11172-3): version,
    // bitrate/rate table lookups, channel mode, and the frame-counted
    // duration, all closed forms of doc_id. The oracle spells the spec's
    // bitrate/rate tables as SQL list lookups — table semantics are
    // cross-engine-verified, not just the walk.
    "q_mp3_meta" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 47 === 0)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "payload", org.apache.spark.sql.types.BinaryType)))
      val mp3s = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(
            id,
            Multimodal.encodeMp3(
              mpeg1 = id % 2 == 0,
              bitrateIdx = 1 + (id % 14).toInt,
              rateIdx = (id % 3).toInt,
              padding = id % 5 == 0,
              mono = id % 3 == 0,
              nFrames = 5 + (id % 9).toInt,
              id3Size = (id % 50).toInt,
              // VBR header coverage: Xing and VBRI on MPEG1 payloads (even
              // ids), the CBR Info tag on MPEG2 (odd ids, where bitrateIdx
              // >= 2 always — odd multiples of 47 are never = 0 mod 14 —
              // so the tag fits the smallest frame), a quarter untagged
              vbrTag = (id % 4) match {
                case 0 => "xing"
                case 1 => "info"
                case 2 => "vbri"
                case _ => null
              },
              vbrFrames = 100 + (id % 50).toInt))
        },
        schema)
      Multimodal
        .mp3Meta(mp3s, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("version"),
          col("sample_rate"),
          col("bitrate_kbps"),
          col("channels"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          col("vbr_method"),
          col("vbr_frames"),
          round(col("vbr_duration_ms"), 6).as("vbr_duration_ms"))
    },

    // Gopher-style repetition quality signals: most-frequent word 2-gram
    // character coverage + duplicated word 5-gram coverage (ops.Corpus)
    "q_repetition" -> { (s, dir) =>
      graft.ops.Corpus.repetitionSignals(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id")
    },

    // eval-set decontamination: corpus docs sharing >= 1 normalized word
    // 5-gram with the (broadcast) eval set; raw-gram join so the SQL oracle
    // replicates the keys (production default hashes them to 8 bytes)
    "q_decontaminate" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus.decontaminate(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0),
        "text", "doc_id", n = 5, hashKeys = false)
    },

    // sliding-window document chunking (context-length prep): 32-token
    // windows, 8-token overlap — pure per-row explode, no shuffle
    "q_chunk_docs" -> { (s, dir) =>
      graft.ops.Corpus
        .chunkDocuments(
          s.read.parquet(pq(dir, "documents"))
            .select(col("doc_id"), col("text"))
            .where(col("doc_id") % 13 === 0),
          "text", chunkTokens = 32, overlapTokens = 8)
        .select(
          col("doc_id"),
          col("chunk_idx").cast("bigint").as("chunk_idx"),
          col("chunk_text"),
          col("chunk_tokens").cast("bigint").as("chunk_tokens"))
    },

    // self-trained bigram-LM cross-entropy (perplexity-filter proxy):
    // decimal-summed log terms keep the score order-independent and
    // cross-engine exact
    "q_lm_score" -> { (s, dir) =>
      graft.ops.Corpus
        .bigramCrossEntropy(
          s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text")),
          "text", "doc_id")
        .select(
          col("doc_id"),
          col("n_bigrams"),
          round(col("cross_entropy"), 6).cast("double").as("cross_entropy"))
    },

    // trigram stupid-backoff LM scoring (Brants 2007): train on the 2/3
    // slice, score everything — the 1/3 held-out docs exercise OOV and
    // unseen-context backoff paths; decimal-summed log terms as in
    // q_lm_score
    "q_backoff_score" -> { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Corpus
        .stupidBackoffScore(
          docs.where(col("doc_id") % 3 =!= 0), docs, "text", "doc_id")
        .select(
          col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("backoff_xent"), 6).cast("double").as("backoff_xent"))
    },

    // DSIR importance weights: hashed unigram+bigram buckets (md5 flavor so
    // the oracle recomputes identical buckets), smoothed target/raw
    // log-ratios over the full bucket spine, exact decimal per-doc sums
    "q_dsir_weights" -> { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Dsir
        .importanceWeights(
          docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
          nBuckets = 512, md5Flavor = true)
        .select(
          col("doc_id"),
          col("n_features").cast("bigint").as("n_features"),
          round(col("logw"), 6).cast("double").as("logw"))
    },

    // weight-balanced serpentine shard assignment over the bucketed global
    // rank (no unpartitioned window) — per-shard token totals near-equal
    "q_shard_assign" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("bigint").as("tok_w"))
      graft.ops.Corpus
        .assignShardsBalanced(docs, "doc_id", "tok_w", nShards = 8)
        .select(
          col("doc_id"), col("tok_w"),
          col("shard_rank").cast("bigint").as("shard_rank"),
          col("shard").cast("bigint").as("shard"))
    },

    // DSIR Gumbel-top-k selection: deterministic md5-lattice uniforms,
    // sample-∝-weight without replacement, rank pinned by (gumbel, id)
    "q_dsir_sample" -> { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Dsir
        .resample(
          docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
          k = 50, seed = "gate", nBuckets = 512, md5Flavor = true)
        .select(
          col("doc_id"),
          col("n_features").cast("bigint").as("n_features"),
          round(col("logw"), 6).cast("double").as("logw"),
          round(col("gumbel"), 6).as("gumbel"),
          col("rank").cast("bigint").as("rank"))
    },

    // HTML -> text extraction: each document wrapped in synthesized HTML
    // (scripts, styles, comments, entities, block structure; text
    // entity-escaped so markup-looking content survives the round trip),
    // extracted by the codegen'd regex pipeline, oracled by the
    // IDENTICAL chain in RE2
    "q_html_extract" -> { (s, dir) =>
      import graft.ops.Web
      def esc(c: Column): Column =
        regexp_replace(
          regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"),
          ">", "&gt;")
      val docs = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      val html = concat(
        lit("<html><head><title>T</title><style>p{color:red}</style>" +
          "<script>if(a<b){alert(\"x</p>\");}</script></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><p>"), esc(col("t")),
        lit("</p><div>tail&nbsp;&amp;&lt;raw&gt;</div><!-- hidden -->" +
          "line<br/>break</body></html>"))
      docs
        .select(col("doc_id"), Web.extractHtmlText(html).as("extracted"))
        .select(
          col("doc_id"),
          length(col("extracted")).cast("bigint").as("n_chars"),
          md5(col("extracted").cast("binary")).as("text_md5"))
    },

    // WARC ingestion: REAL WARC/1.0 blobs synthesized in-plan per doc
    // (three records each; even ids gzip-compressed — the .warc.gz
    // record-per-member layout), parsed back by the streaming parser,
    // record geometry + payload digests oracled in closed form
    "q_warc_parse" -> { (s, dir) =>
      import graft.ops.Warc
      import graft.ops.Warc.WarcRecord
      val docs = s.read.parquet(pq(dir, "documents"))
        .where(col("doc_id") % 13 === 0)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "blob", org.apache.spark.sql.types.BinaryType)))
      val blobs = s.createDataFrame(
        docs.rdd.map { r =>
          val id = r.getLong(0)
          val payload = r.getString(1).getBytes("UTF-8")
          val meta = s"len:${payload.length}".getBytes("UTF-8")
          val recs = Seq(
            WarcRecord("warcinfo",
              Seq("WARC-Record-ID" -> s"<urn:uuid:$id>"),
              "robots: classic\r\n".getBytes("UTF-8")),
            WarcRecord("response",
              Seq("WARC-Record-ID" -> s"<urn:uuid:$id-r>",
                "WARC-Target-URI" -> s"http://example.com/$id"),
              payload),
            WarcRecord("metadata",
              Seq("WARC-Record-ID" -> s"<urn:uuid:$id-m>"), meta))
          org.apache.spark.sql.Row(
            id, Warc.encodeWarc(recs, gzip = id % 2 == 0))
        },
        schema)
      Warc.parseWarcRecords(blobs, "doc_id", "blob")
        .select(
          col("doc_id"),
          col("rec_idx").cast("bigint").as("rec_idx"),
          col("warc_type"),
          col("n_headers").cast("bigint").as("n_headers"),
          col("content_length"),
          md5(col("payload")).as("payload_md5"),
          col("warc_valid"))
    },

    // Unicode script-mix profile: text deterministically enriched with
    // known non-Latin samples on id-derived rows so every profiled script
    // exercises on both engines (the q_pii_scan enrichment pattern)
    "q_script_mix" -> { (s, dir) =>
      val samples = Seq(
        "привет мир", "你好世界", "مرحبا بالعالم", "안녕하세요",
        "こんにちは", "カタカナ", "नमस्ते दुनिया", "γεια σου κόσμε",
        "שלום עולם")
      val injected = samples.zipWithIndex.foldLeft(lit("")) {
        case (acc, (txt, i)) =>
          when(pmod(col("doc_id"), lit(11)) === i, lit(txt)).otherwise(acc)
      }
      val enriched = s.read.parquet(pq(dir, "documents"))
        .select(
          col("doc_id"),
          concat_ws(" ", coalesce(col("text"), lit("")), injected).as("t2"))
      val mixed = graft.ops.TextAnalysis.scriptMix(enriched, "t2")
      mixed.select(
        col("doc_id") +: col("n_script_chars") +:
          graft.ops.TextAnalysis.ScriptNames.map(n =>
            round(col(s"${n.toLowerCase}_frac"), 6).as(s"${n.toLowerCase}_frac")): _*)
    },

    // hashed-n-gram KL text-drift scalar (the PSI sibling for text):
    // smoothed target/raw distributions over the full bucket spine
    "q_text_drift_kl" -> { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Dsir
        .hashedNgramKlFrame(
          docs, docs.where(col("doc_id") % 7 === 0), "text",
          nBuckets = 512, md5Flavor = true)
        .select(round(col("kl"), 6).cast("double").as("kl"))
    },

    // fastText-style hashed linear classifier: a 2-round full-batch
    // logistic-GD model trained IN the query (md5 flavor, labels derived
    // from doc_id) and scored over the corpus — the oracle re-derives the
    // identical 2-round model with unrolled SQL
    "q_classifier_score" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .select(
          col("doc_id"), col("text"),
          (col("doc_id") % 7 === 0).cast("int").as("dj_label"))
      // trainAndScore: ONE shared hashed-gram feature pass for training and
      // scoring (bit-identical to train+score, half the corpus scans — r14)
      graft.ops.Classifier
        .trainAndScore(
          docs, "text", "doc_id", "dj_label", nBuckets = 256, nIters = 2,
          learningRate = 0.5, md5Flavor = true)
        .select(
          col("doc_id"), col("n_features"),
          round(col("margin"), 6).cast("double").as("margin"),
          round(col("score"), 6).as("score"))
    },

    // TF-IDF keyword extraction: top-5 tokens per doc, smoothed idf over
    // the full corpus — tf aggregate, vocabulary join (AQE broadcast/skew),
    // per-doc ranking window
    "q_tfidf_topk" -> { (s, dir) =>
      graft.ops.Corpus
        .tfidfTopK(
          s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text")),
          "text", "doc_id", k = 5)
        .select(
          col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"),
          col("rank").cast("bigint").as("rank"))
    },

    // corpus vocabulary: 50 most frequent normalized tokens, distributed
    // top-k (TakeOrderedAndProject), ties broken token-ascending
    "q_vocab_topk" -> { (s, dir) =>
      graft.ops.Corpus.vocabularyTopK(
        s.read.parquet(pq(dir, "documents")), "text", k = 50)
    },

    // Count-Min sketch (ops.Sketches): token frequencies folded into a
    // 4×64 grouped-count table (deliberately narrow so collisions make the
    // estimates diverge from true counts — the CMS arithmetic is what's
    // verified, not plain counting), then point estimates for 8 probe
    // words including one absent. The oracle rebuilds sketch AND estimates
    // from the same row-salted md5 hashing.
    "q_cms_counts" -> { (s, dir) =>
      import s.implicits._
      import graft.ops.{Sketches, TextAnalysis}
      val toks = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val sketch = Sketches.cmsSketch(toks, "tok", depth = 4, width = 64)
      val probes = Seq(
        "table", "value", "spark", "row", "key", "data", "vector",
        "zzz_absent").toDF("word")
      Sketches.cmsEstimate(sketch, probes, "word", depth = 4, width = 64)
        .select(col("word"), col("cms_count"))
    },

    // PageRank over a synthesized 50-node link graph (doc_id residue
    // edges): 5 decimal-deterministic power iterations; the oracle
    // replays the identical cast-for-cast arithmetic
    "q_pagerank" -> { (s, dir) =>
      val edges = s.read.parquet(pq(dir, "documents"))
        .select((col("doc_id") % 50).as("src"),
          ((col("doc_id") * 7 + 3) % 50).as("dst"))
      graft.ops.Web.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("node"),
          round(col("pagerank").cast("double"), 9).as("pagerank"))
    },

    // WARC DataSource V2: REALLY writes deterministic .warc/.warc.gz
    // files, reads them back through format("warc"), and checks geometry /
    // content / partitioning closed-form (constant all-green oracle — the
    // streaming-gate precedent for surfaces DuckDB cannot execute)
    "q_warc_source" -> { (s, dir) =>
      import s.implicits._
      import graft.ops.Warc
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id")).where(col("doc_id") % 29 === 0)
        .as[Long].collect().sorted
      val tmp = java.nio.file.Files.createTempDirectory("graft_warc_gate")
      def record(id: Long) = Warc.WarcRecord(
        "response",
        Seq("WARC-Target-URI" -> s"https://g.example/$id"),
        ("B" * (10 + (id % 7)).toInt).getBytes("US-ASCII"))
      ids.groupBy(_ % 3).foreach { case (part, group) =>
        java.nio.file.Files.write(
          tmp.resolve(s"part$part.warc.gz"),
          Warc.encodeWarc(group.map(record).toSeq, gzip = true))
      }
      val src = s.read.format("warc").load(tmp.toString)
        .select(col("path"), col("target_uri"), col("content_length"),
          col("warc_valid"))
      val rows = src.collect()
      val uriOk = rows.map(_.getString(1)).toSet ==
        ids.map(i => s"https://g.example/$i").toSet &&
        rows.length == ids.length
      val lenOk = rows.forall { r =>
        val id = r.getString(1).split('/').last.toLong
        r.getLong(2) == 10 + (id % 7)
      }
      val checks = Seq(
        ("n_records", rows.length.toLong == ids.length.toLong),
        ("n_files", rows.map(_.getString(0)).distinct.length.toLong == 3L),
        ("one_partition_per_file", src.rdd.getNumPartitions == 3),
        ("uri_roundtrip", uriOk),
        ("length_closed_form", lenOk),
        ("all_valid", rows.forall(_.getBoolean(3))))
      checks.toDF("probe", "ok")
    },

    // fuzzy title join: SymSpell deletion-neighborhood candidates + exact
    // levenshtein verify on synthesized titles (odd ids carry one typo);
    // the oracle IS the brute-force all-pairs edit-distance join
    "q_fuzzy_pairs" -> { (s, dir) =>
      val base = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"),
          concat(col("source"), lit("-"), col("doc_id") % 40).as("t0"))
      val titles = base.withColumn(
        "title",
        when(col("doc_id") % 2 === 1,
          concat(substring(col("t0"), 1, 3), lit("x"),
            col("t0").substr(lit(4), length(col("t0")))))
          .otherwise(col("t0")))
        .select(col("doc_id"), col("title"))
      graft.ops.Dedup
        .fuzzyPairsLevenshtein(titles, "title", "doc_id", maxDist = 1)
    },

    // per-group HLL distinct estimates: geometry-bounded register shuffle
    // (<= 2^b rows per key) instead of countDistinct's per-pair shuffle;
    // estimator arithmetic re-derived exactly by the oracle
    "q_hll_grouped" -> { (s, dir) =>
      graft.ops.Sketches.hllGroupedEstimate(
        s.read.parquet(pq(dir, "lineitem"))
          .select(col("l_returnflag"),
            col("l_partkey").cast("string").as("v")),
        "l_returnflag", "v", b = 6)
        .select(col("l_returnflag"), col("n_hit"),
          round(col("estimate"), 6).as("estimate"))
    },

    // robust MAD outliers over order totals: exact doubled-order-statistic
    // medians via the distinct-agg + prefix-sum rank selection, integer
    // threshold compare (K = round(k·1.4826·10^4))
    "q_mad_outliers" -> { (s, dir) =>
      graft.ops.Integrity.madOutliers(
        s.read.parquet(pq(dir, "orders"))
          .select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", k = 2.0, scale = 100)
        .select(col("o_orderkey"), col("is_outlier"))
    },

    // character-distribution profile: one CharHistogram kernel scan per
    // document -> Shannon entropy (exact-decimal term sum), distinct
    // count, top-character share — the random-text / repetition signal
    "q_char_entropy" -> { (s, dir) =>
      s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.charProfile(col("text")).as("p"))
        .where(col("p").isNotNull)
        .select(col("doc_id"), col("p.n_chars"), col("p.n_distinct"),
          round(col("p.top_frac"), 6).as("top_frac"),
          round(col("p.entropy"), 6).as("entropy"))
    },

    // Z-order (Morton) layout key: linear min-max buckets + bit
    // interleave over (l_partkey, l_suppkey) — the write-path clustering
    // key; the oracle re-derives bucket and interleave arithmetic exactly
    "q_zorder" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
        .where(col("l_orderkey") % 199 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
      graft.ops.Layout.zorderKey(li, Seq("l_partkey", "l_suppkey"), bits = 8)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("zorder_key"))
    },

    // robots.txt (RFC 9309): REAL group parsing + longest-match evaluation
    // over synthesized per-domain policies at two agents; the oracle
    // recomputes every verdict in closed form from the template arithmetic
    "q_robots" -> { (s, dir) =>
      import graft.ops.Web
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 13 === 0)
      val k = col("doc_id") % 3
      val m = col("doc_id") % 2
      val robots = ids.select(
        concat(lit("d"), col("doc_id")).as("domain"),
        concat(
          lit("# synthesized policy\nUser-agent: *\nDisallow: /private"), k,
          lit("/\nAllow: /private"), k,
          lit("/ok\n\nUser-agent: graftbot\nDisallow: /bot"), m,
          lit("*\n")).as("robots"))
      val urls = ids
        .select(col("doc_id"),
          concat(lit("d"), col("doc_id")).as("domain"),
          explode(array(
            concat(lit("/private"), k, lit("/x")),
            concat(lit("/private"), k, lit("/ok/page")),
            concat(lit("/bot"), m, lit("xyz")),
            lit("/pub/page"))).as("path"))
        .withColumn("id", concat(col("doc_id"), lit(":"), col("path")))
      Seq("*", "graftbot").map { ag =>
        Web.robotsAllowed(urls, robots, "id", "domain", "path",
            "domain", "robots", agent = ag)
          .withColumn("agent", lit(ag))
      }.reduce(_ unionByName _)
        .select(col("id"), col("agent"), col("allowed"), col("matched_pattern"))
    },

    // BM25 ranked retrieval: three literal queries against the documents
    // corpus, Okapi k1=1.2 b=0.75, decimal-summed per-term scores
    "q_bm25" -> { (s, dir) =>
      import s.implicits._
      val q = Seq(
        ("q_scan", "table scan fast"),
        ("q_stream", "stream window batch"),
        ("q_join", "join merge hash")).toDF("query_id", "query_text")
      graft.ops.Corpus.bm25TopK(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id",
        q, "query_id", "query_text", k = 10)
    },

    // KMV bottom-k sketch: the 128 distinct l_partkey values with the
    // smallest md5-lattice hashes — distinct-count + uniform-sample +
    // quantile sketch in one k-row table (oracle rebuilds it exactly)
    "q_kmv_sketch" -> { (s, dir) =>
      graft.ops.Sketches.kmvSketch(
        s.read.parquet(pq(dir, "lineitem")), "l_partkey", k = 128)
    },

    // KMV distinct-count estimator arithmetic over the same sketch
    "q_kmv_estimate" -> { (s, dir) =>
      val sk = graft.ops.Sketches.kmvSketch(
        s.read.parquet(pq(dir, "lineitem")), "l_partkey", k = 128)
      graft.ops.Sketches.kmvDistinctEstimate(sk, k = 128)
    },

    // theta-style KMV set operations: distinct Jaccard / union /
    // intersection estimates of the even- vs odd-order customer
    // populations from two 256-row sketches (oracle rebuilds both)
    "q_kmv_intersect" -> { (s, dir) =>
      val orders = s.read.parquet(pq(dir, "orders"))
      val a = graft.ops.Sketches.kmvSketch(
        orders.where(col("o_orderkey") % 2 === 0), "o_custkey", k = 256)
      val b = graft.ops.Sketches.kmvSketch(
        orders.where(col("o_orderkey") % 2 === 1), "o_custkey", k = 256)
      graft.ops.Sketches.kmvSetEstimates(a, b, k = 256)
        .select(
          col("n_union_sketch"), col("n_common"),
          round(col("jaccard_est"), 6).as("jaccard_est"),
          col("union_est"),
          round(col("intersect_est"), 6).as("intersect_est"))
    },

    // KMV quantiles of the distinct o_custkey population (discrete-rank
    // selection over the ≤ 256-row uniform sample)
    "q_kmv_quantiles" -> { (s, dir) =>
      val sk = graft.ops.Sketches.kmvSketch(
        s.read.parquet(pq(dir, "orders")), "o_custkey", k = 256)
      graft.ops.Sketches.kmvQuantiles(sk, Seq(0.1, 0.5, 0.9))
    },

    // streaming Count-Min sketch over a REAL file-stream replay of the
    // documents table (Complete mode: the memory sink holds the final
    // snapshot deterministically regardless of micro-batching) — the
    // sketch TABLE itself is the output, hash-compared against the same
    // full DuckDB recompute the batch q_cms_counts uses. The streaming
    // aggregation and the batch sketch are the same grouped count, so
    // replay convergence is exact, not approximate.
    "q_streaming_cms" -> { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.CmsView)
        .select(
          col("cms_row").cast("bigint").as("cms_row"),
          col("cms_bucket").cast("bigint").as("cms_bucket"),
          col("cnt").cast("bigint").as("cnt"))
    },

    // streaming histogram over the replayed event stream: clamped-bucket
    // grouped-count state (≤ nBuckets rows), complete-mode snapshot
    // hash-compared to the batch rebuild — the drift-monitor state shape
    // joins the two sketches in the streaming driver gate
    "q_streaming_histogram" -> { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.HistogramView)
        .select(col("bucket"), col("cnt"))
    },

    // streaming HyperLogLog registers over the replayed document stream:
    // grouped-MAX state (≤ 2^b rows), complete-mode snapshot hash-compared
    // to the full DuckDB register rebuild — with q_streaming_cms this
    // pins BOTH mergeable-sketch streaming aggregations to their batch
    // equivalents in the driver gate
    "q_streaming_hll" -> { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.HllView)
        .select(
          col("hll_bucket").cast("bigint").as("hll_bucket"),
          col("hll_register").cast("bigint").as("hll_register"))
    },

    // streaming exact dedup over the replayed event stream
    // (dropDuplicatesWithinWatermark): append mode emits the first row of
    // each key exactly once, so projecting the key columns makes the
    // output deterministically the distinct key set — hash-compared to
    // DuckDB's DISTINCT. The watermark bounds the dedup state at scale;
    // the replay proves the streaming path produces the batch answer.
    "q_streaming_dedup" -> { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.DedupView)
    },

    // whole-table column profile (ops.Profile): counts / nulls / exact
    // distincts / min-max for four part columns from ONE aggregate over
    // one scan (multi-countDistinct Expand). Integer and string columns
    // only in the gate — double rendering (sci-notation thresholds)
    // differs across engines; values still profile fine, they just don't
    // hash-compare.
    "q_profile" -> { (s, dir) =>
      graft.ops.Profile
        .profileColumns(
          s.read.parquet(pq(dir, "part")),
          Seq("p_partkey", "p_brand", "p_type", "p_size"))
        .select(
          col("column"), col("n_rows"), col("n_null"), col("n_distinct"),
          col("min_value"), col("max_value"))
    },

    // semi-structured JSON extraction (ops.SemiStructured): typed
    // from_json over events.props with ~1% of payloads deterministically
    // truncated to exercise the malformed path — per-type counts,
    // malformed counts, and the exact sum of the extracted field. The
    // oracle uses DuckDB's JSON functions over identical strings.
    "q_json_extract" -> { (s, dir) =>
      import graft.ops.SemiStructured
      val ev = s.read.parquet(pq(dir, "events"))
        .withColumn(
          "raw",
          when(col("event_id") % 97 === 0,
            expr("substring(props, 1, length(props) - 1)"))
            .otherwise(col("props")))
      SemiStructured.withParsedJson(ev, "raw", "k INT")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(when(!col("json_ok"), 1)).as("n_malformed"),
          sum(col("parsed.k")).as("sum_k"))
        .select(col("event_type"), col("n"), col("n_malformed"), col("sum_k"))
    },

    // PSI drift (ops.Drift.psi): even- vs odd-order lineitems over ten
    // l_quantity buckets, 0.5-additive smoothing, decimal-cast term sums
    // — the oracle recomputes every probability and log term with the
    // identical double ops
    "q_psi" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .psi(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_quantity", lo = 1.0, hi = 51.0, nBuckets = 10)
        .select(col("n_a"), col("n_b"), round(col("psi"), 6).as("psi"))
    },

    // chi-square drift (ops.Drift.chiSquareDrift): order-priority
    // categories across the same parity split; per-cell (O−E)²/E terms
    // decimal-cast before the sum
    "q_chi2" -> { (s, dir) =>
      val o = s.read.parquet(pq(dir, "orders"))
      graft.ops.Drift
        .chiSquareDrift(
          o.where(col("o_orderkey") % 2 === 0),
          o.where(col("o_orderkey") % 2 === 1),
          "o_orderpriority")
        .select(
          col("n_a"), col("n_b"), col("n_categories"),
          round(col("chi2"), 6).as("chi2"))
    },

    // Wasserstein-1 drift (ops.Drift.wasserstein1): earth-mover distance
    // of l_extendedprice across the parity split, exact on the cent-
    // scaled integer axis — integer area sum (|r1·m − r2·n|·Δv as
    // decimals vs the oracle's HUGEINTs), one double division at the end
    "q_wasserstein" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .wasserstein1(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", scale = 100L)
        .select(col("n_a"), col("n_b"), round(col("w1"), 6).as("w1"))
    },

    // Cramér–von Mises drift (ops.Stats.cvm2Sample): the L² CDF-gap
    // integral over the same parity split on l_quantity — exact integer
    // term sum (cnt·(r1·m − r2·n)²), fixed-shape double division
    "q_cvm_2sample" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Stats
        .cvm2Sample(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_quantity", scale = 1L)
        .select(col("n_a"), col("n_b"), round(col("cvm_t"), 6).as("cvm_t"))
    },

    // mutual information (ops.Drift.mutualInformation): order status ×
    // priority dependence in nats — per-cell c·ln(c·N/(cx·cy)) terms
    // decimal-cast before the sum, the PSI arithmetic posture
    "q_mutual_info" -> { (s, dir) =>
      val o = s.read.parquet(pq(dir, "orders"))
      graft.ops.Drift
        .mutualInformation(o, "o_orderstatus", "o_orderpriority")
        .select(
          col("n"), col("n_x_categories"), col("n_y_categories"),
          round(col("mi_nats"), 6).as("mi_nats"))
    },

    // deterministic epoch shuffle (ops.Corpus.epochShuffle): the full
    // md5-lattice permutation of the documents table for (seed=gate,
    // epoch=3) — bucketed global rank vs the oracle's row_number over the
    // identical 52-bit dyadic key, id tie-break pinning determinism
    "q_epoch_shuffle" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents")).select(col("doc_id"))
      graft.ops.Corpus
        .epochShuffle(docs, "doc_id", "gate", 3)
        .select(col("doc_id"), col("shuffle_rank"))
    },

    // corpus diversity (ops.Corpus.corpusDiversity): token entropy +
    // distinct-trigram ratio — the mode-collapse profile; decimal-cast
    // entropy terms, exact distinct counts
    "q_diversity" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .corpusDiversity(docs, "text", n = 3)
        .select(
          col("n_tokens"), col("vocab_size"),
          round(col("token_entropy"), 6).as("token_entropy"),
          col("n_ngrams"), col("n_distinct_ngrams"),
          round(col("distinct_ngram_ratio"), 6).as("distinct_ngram_ratio"))
    },

    // per-source diversity (ops.Corpus.corpusDiversityByGroup): which
    // source collapsed — per-group entropy + distinct-trigram ratio
    "q_diversity_by_source" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .corpusDiversityByGroup(docs, "text", "source", n = 3)
        .select(
          col("source"), col("n_tokens"), col("vocab_size"),
          round(col("token_entropy"), 6).as("token_entropy"),
          col("n_ngrams"), col("n_distinct_ngrams"),
          round(col("distinct_ngram_ratio"), 6).as("distinct_ngram_ratio"))
    },

    // source mixing weights (ops.Corpus.sourceMixWeights): α=0.7
    // temperature sampling over the documents sources — n^α terms
    // decimal-cast before the normalizing sum
    "q_source_mix" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .sourceMixWeights(docs, "source", alpha = 0.7)
        .select(
          col("source"), col("n_docs"),
          round(col("weight"), 6).as("weight"),
          round(col("share"), 6).as("share"),
          round(col("boost"), 6).as("boost"))
    },

    // volume anomalies (ops.Events.volumeAnomalies): daily event counts
    // through the exact-integer MAD rule — the ingestion-feed monitor
    "q_volume_anomaly" -> { (s, dir) =>
      val ev = s.read.parquet(pq(dir, "events"))
      graft.ops.Events
        .volumeAnomalies(ev, "ts", "day", k = 3.5)
        .select(col("bucket_start"), col("n_events"), col("is_outlier"))
    },

    // quantile-shift drift report (ops.Drift.quantileShift): which
    // percentiles of the price distribution moved, from ONE shared
    // distinct-value frame — exact integer rank selection per side
    "q_quantile_shift" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .quantileShift(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", Seq(25, 50, 75, 90, 99), scale = 100L)
        .select(col("percent"), col("q_a"), col("q_b"), col("shift"))
    },

    // per-group Wasserstein-1 (ops.Drift.wassersteinByGroup): by how
    // much each return-flag segment's prices drifted — per-key windows
    // carry running counts, totals, and the successor in one sort
    "q_w1_by_group" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .wassersteinByGroup(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", "l_returnflag", scale = 100L)
        .select(
          col("l_returnflag"), col("n_a"), col("n_b"),
          round(col("w1"), 6).as("w1"))
    },

    // blocklist filter (ops.TextAnalysis.blocklistHits): token-exact
    // whole-word hits per document against a fixed 3-word list — one
    // codegen'd projection, no substring false positives
    "q_blocklist" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val hits = graft.ops.TextAnalysis
        .blocklistHits(col("text"), Seq("network", "data", "system"))
      docs.where(col("text").isNotNull)
        .select(
          col("doc_id"),
          hits.cast("bigint").as("n_hits"),
          (hits >= 1).as("flagged"))
    },

    // Zipf slope (ops.Corpus.zipfSlope): OLS of ln(freq) on ln(rank)
    // over the top vocabulary — decimal-cast regression terms, one
    // fixed-shape double division
    "q_zipf" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .zipfSlope(docs, "text", topK = 10000)
        .select(
          col("n_terms"), round(col("zipf_slope"), 6).as("zipf_slope"))
    },

    // per-group KS drift (ops.Stats.ksByGroup): which return-flag
    // segments' price distributions drifted across the parity split —
    // per-key exact integer D numerators, one per-key sort carrying both
    // windows
    "q_ks_by_group" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Stats
        .ksByGroup(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", "l_returnflag", scale = 100L)
        .select(
          col("l_returnflag"), col("n_a"), col("n_b"),
          round(col("ks_d"), 6).as("ks_d"))
    },

    // pairwise correlation matrix (ops.Stats.correlationMatrix): all six
    // lineitem numeric pairs from ONE aggregate pass — exact pairwise-
    // complete power sums, the q_correlation double shape per pair
    "q_corr_matrix" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Stats
        .correlationMatrix(
          li,
          Seq(
            ("l_quantity", 1L), ("l_extendedprice", 100L),
            ("l_discount", 100L), ("l_tax", 100L)))
        .select(
          col("col_x"), col("col_y"), col("n"),
          round(col("pearson_r"), 6).as("pearson_r"))
    },

    // exact ROC AUC (ops.Stats.aucExact): does document length rank
    // English-ness — Mann–Whitney 2U as an exact integer sum
    // (c⁺·(2r⁻ − c⁻) vs the oracle's HUGEINTs), midrank ties, one
    // fixed-shape double division
    "q_auc" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Stats
        .aucExact(docs, "n_chars", col("lang") === "en")
        .select(col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc"))
    },

    // per-group top-k frequent values (ops.Profile.groupTopK): each order
    // status's top-3 priorities — salted two-phase exact top-k, fully
    // tie-broken (count desc, value asc), "<null>" as a real category
    "q_group_topk" -> { (s, dir) =>
      val o = s.read.parquet(pq(dir, "orders"))
      graft.ops.Profile
        .groupTopK(o, "o_orderstatus", "o_orderpriority", k = 3)
        .select(
          col("o_orderstatus"), col("value"), col("cnt"),
          col("rank").cast("int").as("rank"))
    },

    // per-domain document cap (ops.Corpus.capPerGroup): at most 5 docs per
    // source, highest n_chars first, doc_id tie-break — the salted
    // two-phase exact top-k vs DuckDB's single-window spelling
    "q_domain_cap" -> { (s, dir) =>
      graft.ops.Corpus
        .capPerGroup(
          s.read.parquet(pq(dir, "documents")),
          "source", "n_chars", "doc_id", cap = 5)
        .select(col("doc_id"), col("source"), col("n_chars"), col("keep_rank"))
    },

    // BPE vocabulary induction, round-1 statistics (ops.Bpe): weighted
    // adjacent character-pair counts over the distinct-word table — the
    // aggregate every merge round re-runs; top-20 fully tie-broken. (The
    // iterative trainer itself is pinned by BpeSpec's textbook-sequence
    // test; DuckDB can't express the k-round loop.)
    "q_bpe_pairs" -> { (s, dir) =>
      import graft.ops.{Bpe, TextAnalysis}
      val words = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w")
        .agg(count(lit(1)).as("weight"))
      Bpe.pairCounts(Bpe.toSymbols(words, "w", "weight"))
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(20)
        .select(col("left_sym"), col("right_sym"), col("pair_count"))
    },

    // equi-width histogram (ops.Stats.histogram): 10 buckets over
    // l_quantity — identical left-associated float bucket arithmetic on
    // both engines, ≤ nBuckets rows shuffled
    "q_histogram" -> { (s, dir) =>
      graft.ops.Stats
        .histogram(
          s.read.parquet(pq(dir, "lineitem")), "l_quantity",
          lo = 1.0, hi = 51.0, nBuckets = 10)
        .select(col("bucket"), col("cnt"))
    },

    // Pearson correlation (ops.Stats.pearsonExact): integer-scaled DECIMAL
    // sums (cents × units) so the five moments are exact; the oracle
    // re-runs the same formula over HUGEINT sums
    "q_correlation" -> { (s, dir) =>
      graft.ops.Stats
        .pearsonExact(
          s.read.parquet(pq(dir, "lineitem")),
          "l_extendedprice", "l_quantity", scaleX = 100L)
        .select(col("n"), round(col("pearson_r"), 6).as("pearson_r"))
    },

    // exact grouped moments: skewness / excess kurtosis per return flag
    // from exact decimal power sums — the closed-form double formulas run
    // in a fixed expression shape both engines evaluate identically
    "q_moments" -> { (s, dir) =>
      graft.ops.Stats
        .momentsExact(
          s.read.parquet(pq(dir, "lineitem")),
          "l_quantity", groupCols = Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("n"),
          round(col("mean"), 6).as("mean"),
          round(col("variance_pop"), 6).as("variance_pop"),
          round(col("skewness"), 6).as("skewness"),
          round(col("kurtosis_excess"), 6).as("kurtosis_excess"))
    },

    // exact per-group percentiles (ops.Stats.groupPercentiles): discrete
    // quantiles per return flag — one per-group sort carries both windows,
    // integer cross-product rank comparison, no unpartitioned window
    "q_group_percentile" -> { (s, dir) =>
      graft.ops.Stats
        .groupPercentiles(
          s.read.parquet(pq(dir, "lineitem")), "l_returnflag", "l_quantity",
          Seq(25, 50, 90))
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p90"))
    },

    // referential integrity (ops.Integrity.orphanStats): parents carved to
    // every third order so lineitems genuinely orphan — LEFT ANTI hash
    // join + one count row; the oracle runs the NOT-EXISTS directly
    "q_fk_orphans" -> { (s, dir) =>
      import graft.ops.Integrity
      val lineitem = s.read.parquet(pq(dir, "lineitem"))
      val parents = s.read.parquet(pq(dir, "orders"))
        .where(col("o_orderkey") % 3 =!= 0)
      Integrity
        .orphanStats(lineitem, parents, Seq("l_orderkey"), Seq("o_orderkey"))
        .select(col("n_rows"), col("n_orphans"), col("n_orphan_keys"))
    },

    // within-key monotonicity (ops.Integrity): per user, event timestamps
    // ordered by event_id — one per-key window counts the backwards pairs
    "q_monotonic" -> { (s, dir) =>
      import graft.ops.Integrity
      Integrity
        .monotonicityViolations(
          s.read.parquet(pq(dir, "events")), "user_id", "event_id", "ts")
        .select(col("user_id"), col("n_pairs"), col("n_violations"))
    },

    // z-score outliers (ops.Integrity.zOutliers): |x−μ| > 2σ over
    // l_extendedprice, evaluated as the EXACT integer-scaled comparison
    // (x·n − S)² > k²·(n·Q − S²) in cents — no float mean/stddev can
    // flip a boundary row between engines. Oracle re-runs the same
    // HUGEINT arithmetic.
    "q_outliers" -> { (s, dir) =>
      import graft.ops.Integrity
      Integrity
        .zOutliers(
          s.read.parquet(pq(dir, "lineitem")), "l_extendedprice",
          k = 2, scale = 100L)
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("is_outlier"), 1)).as("n_outliers"),
          round(max(when(col("is_outlier"), col("l_extendedprice"))), 6)
            .as("max_outlier"))
    },

    // Bloom filter (ops.Sketches): even doc_ids into a 4×4096-bit filter
    // (the set-bit table), then EVERY doc_id probed — evens must all hit
    // (no false negatives), odds hit only on deterministic collisions. The
    // oracle rebuilds bits and verdicts from the same salted md5.
    "q_bloom_filter" -> { (s, dir) =>
      import graft.ops.Sketches
      val docs = s.read.parquet(pq(dir, "documents"))
      val members = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("string").as("v"))
      val sketch = Sketches.bloomSketch(members, "v", hashes = 4, bits = 4096)
      val probes = docs.select(col("doc_id").cast("string").as("v"))
      Sketches.bloomContains(sketch, probes, "v", hashes = 4, bits = 4096)
        .select(col("v").cast("long").as("doc_id"), col("might_contain"))
    },

    // HyperLogLog (ops.Sketches): register tables over two streams chosen
    // to land on BOTH estimator branches — 500 distinct doc_ids (raw
    // harmonic-mean branch at m=64) and the ~40-word token vocabulary
    // (linear-counting branch). Registers are integer-exact via the
    // bin()-length rank trick; the oracle rebuilds registers and the
    // estimate arithmetic.
    "q_hll_uniques" -> { (s, dir) =>
      import graft.ops.{Sketches, TextAnalysis}
      val docs = s.read.parquet(pq(dir, "documents"))
      val ids = docs.select(col("doc_id").cast("string").as("v"))
      val toks = docs.where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("v"))
      def leg(df: DataFrame, label: String) =
        Sketches.hllEstimate(Sketches.hllSketch(df, "v", b = 6), b = 6)
          .select(
            lit(label).as("stream"),
            col("n_hit"),
            col("n_zero_buckets"),
            round(col("estimate"), 6).as("estimate"))
      leg(ids, "doc_ids").unionByName(leg(toks, "tokens"))
    },

    // deterministic train/val/test assignment: split is a pure function of
    // md5(id ":" seed) against integer-lattice hex boundaries — DuckDB
    // recomputes membership bit-for-bit from the same digest
    "q_split_assign" -> { (s, dir) =>
      graft.ops.Corpus.assignSplits(
        s.read.parquet(pq(dir, "documents")).select(col("doc_id")),
        "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    },

    // near-dup leakage across splits: val/test docs whose CC near-dup
    // cluster also holds a train doc — the contamination exact
    // decontamination misses; composes the q_dedup_clusters closure with
    // the q_split_assign lattice assignment
    "q_split_leakage" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val clusters = graft.ops.Dedup
        .connectedComponents(graft.ops.Dedup.ngramJaccardPairs(
          docs, "text", "doc_id", shingleK = 5, threshold = 0.6))
        .select(col("id").as("doc_id"), col("cluster_id").cast("bigint").as("cluster_id"))
      val splits = graft.ops.Corpus.assignSplits(
        docs.select(col("doc_id")), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      graft.ops.Corpus
        .splitLeakage(clusters, "doc_id", "cluster_id", splits, "split")
    },

    // n-gram novelty: fraction of a doc's DISTINCT 8-token window
    // fingerprints found in no other document — the "new text" score;
    // short docs (< 8 tokens) report n_fp = 0, novelty NULL
    "q_novelty" -> { (s, dir) =>
      graft.ops.Dedup.ngramNovelty(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id",
        windowTokens = 8)
    },

    // per-group Wilson score interval on a keep-rate: the honest
    // small-n/extreme-p interval for monitoring per-source filter rates;
    // double arithmetic over exact (k, n) in a fixed operand order
    "q_wilson_ci" -> { (s, dir) =>
      graft.ops.Stats.proportionCI(
        s.read.parquet(pq(dir, "lineitem"))
          .select(col("l_returnflag"), (col("l_quantity") > 25).as("keep")),
        "keep", Seq("l_returnflag"))
    },

    // one-call snapshot drift report: per-column rows — numeric columns
    // get exact KS D + W1 from ONE fused running-count pass, categorical
    // ones the chi-square statistic (ops.Drift.driftReport)
    "q_drift_report" -> { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift.driftReport(
        li.where(col("l_orderkey") % 2 === 0),
        li.where(col("l_orderkey") % 2 === 1),
        numericCols = Seq("l_extendedprice", "l_quantity"),
        categoricalCols = Seq("l_returnflag"),
        scale = 100L)
        .select(
          col("column"), col("kind"), col("n_a"), col("n_b"),
          round(col("ks_d"), 6).as("ks_d"),
          round(col("w1"), 6).as("w1"),
          round(col("chi2"), 6).as("chi2"),
          col("n_categories"))
    },

    // Benford first-digit audit: exact string-arithmetic digit extraction
    // (no cross-engine float log), hardcoded expectation literals
    "q_benford" -> { (s, dir) =>
      graft.ops.Integrity.benfordProfile(
        s.read.parquet(pq(dir, "lineitem")), "l_extendedprice")
        .select(
          col("digit"),
          col("n_digit"),
          round(col("observed_share"), 6).as("observed_share"),
          round(col("expected_share"), 6).as("expected_share"),
          col("n_excluded"))
    },

    // robust trimmed + winsorized mean: exact-rank tail handling on the
    // distinct-value prefix-sum scheme — no global sort (ops.Stats)
    "q_trimmed_mean" -> { (s, dir) =>
      graft.ops.Stats.trimmedMean(
        s.read.parquet(pq(dir, "lineitem")), "l_extendedprice",
        trimFraction = 0.1, scale = 100L)
        .select(
          col("n"), col("n_trimmed_each_side"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"),
          round(col("winsorized_mean"), 6).as("winsorized_mean"),
          round(col("lo_cut"), 6).as("lo_cut"),
          round(col("hi_cut"), 6).as("hi_cut"))
    },

    // corpus concentration: exact Gini + HHI + top share of per-source
    // character mass — bucketed global rank, decimal-exact rank*w sums
    "q_concentration" -> { (s, dir) =>
      graft.ops.Stats.concentrationProfile(
        s.read.parquet(pq(dir, "documents")), "source", "n_chars")
        .select(
          col("n_groups"),
          round(col("total_weight"), 6).as("total_weight"),
          round(col("gini"), 6).as("gini"),
          round(col("hhi"), 6).as("hhi"),
          round(col("top_share"), 6).as("top_share"),
          col("n_negative"))
    },

    // Cohen's kappa: chance-corrected agreement between two derived labels
    // (b equals a only where l_quantity > 25 — partial, skewed agreement);
    // exact integer joint/marginals, fixed double shapes (ops.Stats)
    "q_cohen_kappa" -> { (s, dir) =>
      graft.ops.Stats.cohensKappa(
        s.read.parquet(pq(dir, "lineitem"))
          .select(
            col("l_returnflag").as("label_a"),
            when(col("l_quantity") > 25, col("l_returnflag"))
              .otherwise(col("l_linestatus")).as("label_b")),
        "label_a", "label_b")
        .select(
          col("n"), col("n_categories_a"), col("n_categories_b"),
          round(col("p_o"), 6).as("p_o"),
          round(col("p_e"), 6).as("p_e"),
          round(col("kappa"), 6).as("kappa"))
    },

    // Poisson-bootstrap mean CI (one-pass map-reduce bootstrap): 50
    // deterministic Poisson(1)-weighted replicates from md5-lattice
    // uniforms (the oracle-recomputable flavor; production defaults to
    // the xxhash64 flavor — PipelineOpsSpec/StatsSpec pin it), exact
    // scaled-decimal sums, discrete rank CI — the oracle re-derives every
    // replicate mean bit-for-bit
    "q_bootstrap_ci" -> { (s, dir) =>
      graft.ops.Stats.bootstrapMeanCI(
        s.read.parquet(pq(dir, "events")), "event_id", "value",
        nResamples = 20, alpha = 0.05, seed = "gate", md5Flavor = true)
        .select(
          col("n"), col("n_resamples"),
          round(col("mean"), 6).as("mean"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    },

    // deterministic stratified sample: k smallest md5(id:seed) per stratum
    // via the salted two-phase top-k (no per-stratum reducer funnel)
    "q_stratified_sample" -> { (s, dir) =>
      graft.ops.Corpus.stratifiedSample(
        s.read.parquet(pq(dir, "documents"))
          .select(col("doc_id"), (col("doc_id") % 7).as("stratum")),
        "stratum", "doc_id", k = 3)
        .select(col("doc_id"), col("stratum"), col("sample_rank"))
    },

    // deterministic weighted training mix: per-source hash-rate membership,
    // rate boundaries as hex literals (no float compare)
    "q_weighted_mix" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus.weightedMix(
        Seq(
          // documents already has a 'source' column; tag as mix_source
          ("head", docs.where(col("doc_id") % 2 === 0), 0.5),
          ("tail", docs.where(col("doc_id") % 2 === 1), 0.25)),
        "doc_id", tagCol = "mix_source")
        .select(col("mix_source"), col("doc_id"))
    },

    // per-source curation profile: the report every corpus pipeline runs
    // before setting mix quotas — doc counts, mean quality, mean tokens per
    // (source, lang); per-doc quality is rounded to 6 first so both engines
    // aggregate the identical multiset
    "q_source_profile" -> { (s, dir) =>
      import graft.ops.TextAnalysis
      s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          // micro-unit integer sum: round-to-6 pins the per-doc doubles,
          // *1e6 makes them exact Longs, and ONE division yields the mean —
          // no order-dependent double summation anywhere
          round(
            sum(round(round(TextAnalysis.qualityScore(col("text")), 6) * 1e6, 0)
              .cast("long")).cast("double")
              / (count(lit(1)) * lit(1000000L)).cast("double"), 6)
            .as("avg_quality"),
          round(
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).cast("double")
              / count(lit(1)), 6).as("avg_tokens"))
    },

    // embedding near-dup pairs: deterministic sign-bit buckets, exact
    // cosine verification; the membership boundary is the ROUNDED cosine
    // (both engines round to 6 before comparing, so a last-ulp float/double
    // divergence can't flip a pair in or out)
    "q_embedding_neardup" -> { (s, dir) =>
      // corpus-scaled key width WITHOUT a caller-side count: the auto
      // flavor sizes nearDupBits off its own compact (id, key) checkpoint
      // — stays 32 bits at every gate scale (≤ ~8k rows → oracle-
      // identical) and widens on the bench's 100× legs so cells hold ~32
      // expected members instead of cap-saturating (the fixed-32-bit
      // spelling produced a ~300M-pair candidate set there). The r10 gate
      // paid a full vecs.count() scan per invocation just to size the key.
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      graft.ops.Similarity
        .embeddingNearDupsAuto(vecs, "vec_id", "embedding", threshold = 0.3495)
        .select(
          col("id1"), col("id2"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },

    // cross-corpus SEMANTIC contamination: even-id vectors as "train",
    // odd-id as "eval" — near-dup pairs across the split only, per-side
    // capped banded sign-bit buckets (Similarity.crossEmbeddingNearDups).
    // Same coarse-membership rounding discipline as q_embedding_neardup.
    "q_cross_embedding" -> { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      graft.ops.Similarity
        .crossEmbeddingNearDups(
          vecs.where(col("vec_id") % 2 === 0),
          vecs.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", threshold = 0.3495, bits = 32)
        .select(
          col("id1"), col("id2"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },

    // heavy-hitter diagnosis (the step before salting a skewed join):
    // keys covering strictly more than 20% of lineitem rows
    "q_heavy_hitters" -> { (s, dir) =>
      graft.ops.Skew
        .heavyHitters(
          s.read.parquet(pq(dir, "lineitem")).select(col("l_returnflag")),
          Seq("l_returnflag"), threshold = 0.2)
        .select(
          col("l_returnflag"),
          col("n_rows"),
          round(col("share"), 6).as("share"))
    },

    // SemDeDup-style semantic near-dups: deterministic coarse quantizer
    // (lloydIters = 0, stride-1 sample → centroids = first 64 vectors by
    // id, SQL-replicable), argmax-of-rounded-cosine assignment, capped
    // within-cluster pairs, exact-cosine verify. Same coarse-membership
    // rounding as q_embedding_neardup.
    "q_semantic_neardup" -> { (s, dir) =>
      graft.ops.Similarity
        .semanticNearDups(
          s.read.parquet(pq(dir, "embeddings")),
          "vec_id", "embedding", threshold = 0.3495,
          nClusters = 64, lloydIters = 0, corpusSize = Some(1))
        .select(
          col("id1"), col("id2"), col("cluster"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },

    // multi-probe SemDeDup: each vector joins its TWO nearest cells, pairs
    // recovered from ANY shared probe cell, canonical cell = smallest
    // shared id — the recall lever over q_semantic_neardup (whose output
    // is a subset of this one by construction)
    "q_semantic_mp" -> { (s, dir) =>
      graft.ops.Similarity
        .semanticNearDups(
          s.read.parquet(pq(dir, "embeddings")),
          "vec_id", "embedding", threshold = 0.3495,
          nClusters = 64, lloydIters = 0, corpusSize = Some(1), probes = 2)
        .select(
          col("id1"), col("id2"), col("cluster"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },

    // GPT-style sequence packing: concat docs in deterministic md5 order
    // within hash buckets, cut every 2048 tokens; each doc gets the pack
    // window its first token falls in
    "q_pack_sequences" -> { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Corpus
        .packSequences(docs, "doc_id", "n_tokens", capacity = 2048, nBuckets = 16)
        .select(
          col("doc_id"), col("pack_bucket"), col("pack_id"), col("pack_offset"))
    }
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles — same column names, same rounding, BIGINT for counts.
  // ---------------------------------------------------------------------
  /** Numeric fragment of the q_drift_report oracle: exact KS D and W1
    * from one running-count frame per column (the q_wasserstein shape
    * plus the D max), identical double shapes as `Drift.driftReport`.
    */
  private def driftNumSql(c: String): String =
    s"""(WITH a AS (SELECT CAST(round($c * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND $c IS NOT NULL),
              b AS (SELECT CAST(round($c * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND $c IS NOT NULL),
              u AS (SELECT v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT v, 0 AS w1, 1 AS w2 FROM b),
              cc AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM u GROUP BY v),
              r AS (SELECT v,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2,
                      lead(v) OVER (ORDER BY v) AS nv
                    FROM cc),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT abs(CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                               - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT)) AS dabs,
                           abs(CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                               - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT))
                             * CAST(coalesce(nv - v, 0) AS HUGEINT) AS term,
                           na, nb
                    FROM r, n)
         SELECT '$c' AS "column", 'numeric' AS kind,
                CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(max(dabs) AS DOUBLE)
                      / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)), 6)
                  AS ks_d,
                round(CAST(sum(term) AS DOUBLE)
                      / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)
                         * 100.0), 6) AS w1,
                CAST(NULL AS DOUBLE) AS chi2,
                CAST(NULL AS INT) AS n_categories
         FROM t)"""

  def oracleSql: Map[String, String] = Map(
    "q_selection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_returnflag = 'R' AND l_quantity > 45""",
    "q_row_count" ->
      "SELECT count(*) AS n_rows FROM lineitem WHERE l_discount > 0.05",
    "q_row_count_capped" ->
      "SELECT count(*) AS n_rows FROM (SELECT * FROM lineitem LIMIT 1234)",
    "q_min_max" ->
      """SELECT min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
                cast(cast(min(l_shipdate) AS DATE) AS VARCHAR) AS min_ship,
                cast(cast(max(l_shipdate) AS DATE) AS VARCHAR) AS max_ship
         FROM lineitem""",
    "q_mean" ->
      """SELECT round(avg(l_quantity), 6) AS avg_qty,
                round(avg(cast(l_extendedprice AS DECIMAL(38,9))), 6) AS avg_price
         FROM lineitem""",
    "q_percentile" ->
      """WITH c AS (SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem
                    WHERE l_extendedprice IS NOT NULL GROUP BY 1),
              c2 AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS total FROM c)
         SELECT min(CASE WHEN cum*100 >= total*25 THEN v END) AS p25,
                min(CASE WHEN cum*100 >= total*50 THEN v END) AS p50,
                min(CASE WHEN cum*100 >= total*90 THEN v END) AS p90
         FROM c2""",
    "q_min_max_length" ->
      """SELECT cast(min(length(p_name)) AS BIGINT) AS min_len,
                cast(max(length(p_name)) AS BIGINT) AS max_len FROM part""",
    "q_fraction_between" ->
      """SELECT round(cast(count(*) FILTER (WHERE l_quantity >= 10 AND l_quantity <= 40) AS DOUBLE)
                / count(*), 6) AS frac FROM lineitem""",
    "q_uniques" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem GROUP BY 1, 2""",
    "q_unique_count" ->
      """SELECT count(*) AS n_unique FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)""",
    "q_uniques_diff" ->
      """SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier""",
    "q_unique_count_union" ->
      """SELECT count(*) AS n_unique FROM
         (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier)""",
    "q_missing_fraction" ->
      """SELECT round(cast(count(*) - count(nullif(o_orderpriority, '1-URGENT')) AS DOUBLE)
                / count(*), 6) AS null_frac FROM orders""",
    "q_column_names" ->
      """SELECT column_name FROM (DESCRIBE SELECT * FROM customer) ORDER BY column_name""",
    "q_column_type" ->
      """SELECT lower(column_type) AS col_type FROM (DESCRIBE SELECT c_custkey FROM customer)""",
    "q_primary_keys" ->
      """SELECT 'n_nationkey' AS pk_cols, 'true' AS pk_match, 'false' AS pk_mismatch""",
    "q_streaming_sessions" ->
      """SELECT 'true' AS emitted_nonempty, 'true' AS all_match, 'true' AS complete""",
    "q_row_diff" ->
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 50000
         EXCEPT
         SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'""",
    "q_row_diff_count" ->
      """SELECT count(*) AS n_diff FROM (
           SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 50000
           EXCEPT
           SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F')""",
    "q_row_mismatch" ->
      """SELECT round(avg(CASE WHEN a.o_orderpriority IS NOT DISTINCT FROM b.p2
                               THEN 0.0 ELSE 1.0 END), 6) AS mismatch_frac,
                count(*) AS n_rows
         FROM orders a
         JOIN (SELECT o_orderkey, nullif(o_orderpriority, '2-HIGH') AS p2 FROM orders) b
           ON a.o_orderkey = b.o_orderkey""",
    "q_duplicates" ->
      """SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1""",
    "q_duplicate_sample" ->
      """SELECT l_orderkey, l_returnflag FROM lineitem
         GROUP BY l_orderkey, l_returnflag HAVING count(*) > 1
         ORDER BY l_orderkey, l_returnflag LIMIT 1""",
    "q_functional_dependency" ->
      """WITH u AS (SELECT DISTINCT o_custkey, o_orderstatus FROM orders),
              bad AS (SELECT o_custkey FROM u GROUP BY 1 HAVING count(*) > 1)
         SELECT u.o_custkey, u.o_orderstatus FROM u JOIN bad USING (o_custkey)""",
    "q_array_agg" ->
      """SELECT n_regionkey, array_to_string(list_sort(list(n_name)), ',') AS names
         FROM nation GROUP BY n_regionkey""",
    "q_date_span" ->
      """SELECT cast(date_diff('day', min(cast(o_orderdate AS DATE)),
                               max(cast(o_orderdate AS DATE))) AS BIGINT) AS span_days
         FROM orders""",
    "q_date_growth" ->
      """SELECT round(
           cast(date_diff('day',
                  min(CASE WHEN o_orderstatus = 'O' THEN cast(o_orderdate AS DATE) END),
                  max(CASE WHEN o_orderstatus = 'O' THEN cast(o_orderdate AS DATE) END))
                AS DOUBLE)
           / date_diff('day', min(cast(o_orderdate AS DATE)),
                              max(cast(o_orderdate AS DATE))) - 1.0, 6) AS growth
         FROM orders""",
    "q_interval_overlap" ->
      """WITH iv AS (SELECT o_custkey, cast(o_orderdate AS DATE) AS s_date,
                            cast(o_orderdate AS DATE) + 30 AS e_date FROM orders),
              dup AS (SELECT o_custkey FROM iv GROUP BY o_custkey, s_date, e_date HAVING count(*) > 1),
              ovl AS (SELECT a.o_custkey FROM iv a JOIN iv b
                      ON a.o_custkey = b.o_custkey AND a.s_date <= b.s_date
                      AND a.e_date >= b.s_date
                      AND (a.s_date <> b.s_date OR a.e_date <> b.e_date))
         SELECT DISTINCT o_custkey FROM (SELECT * FROM dup UNION ALL SELECT * FROM ovl)""",
    "q_interval_overlap_2d" ->
      """WITH iv AS (SELECT o_custkey, cast(o_orderdate AS DATE) AS s1,
                            cast(o_orderdate AS DATE) + 30 AS e1,
                            o_totalprice AS s2, o_totalprice + 50000.0 AS e2 FROM orders),
              dup AS (SELECT o_custkey FROM iv GROUP BY o_custkey, s1, e1, s2, e2 HAVING count(*) > 1),
              ovl AS (SELECT a.o_custkey FROM iv a JOIN iv b
                      ON a.o_custkey = b.o_custkey
                      AND a.s1 <= b.s1 AND a.e1 >= b.s1
                      AND a.s2 <= b.s2 AND a.e2 >= b.s2
                      AND (a.s1 <> b.s1 OR a.e1 <> b.e1 OR a.s2 <> b.s2 OR a.e2 <> b.e2))
         SELECT DISTINCT o_custkey FROM (SELECT * FROM dup UNION ALL SELECT * FROM ovl)""",
    "q_interval_overlap_3d" ->
      """WITH iv AS (SELECT o_custkey, cast(o_orderdate AS DATE) AS s1,
                            cast(o_orderdate AS DATE) + 45 AS e1,
                            o_totalprice AS s2, o_totalprice + 80000.0 AS e2,
                            o_orderkey % 50 AS s3, o_orderkey % 50 + 5 AS e3 FROM orders),
              dup AS (SELECT o_custkey FROM iv GROUP BY o_custkey, s1, e1, s2, e2, s3, e3 HAVING count(*) > 1),
              ovl AS (SELECT a.o_custkey FROM iv a JOIN iv b
                      ON a.o_custkey = b.o_custkey
                      AND a.s1 <= b.s1 AND a.e1 >= b.s1
                      AND a.s2 <= b.s2 AND a.e2 >= b.s2
                      AND a.s3 <= b.s3 AND a.e3 >= b.s3
                      AND (a.s1 <> b.s1 OR a.e1 <> b.e1 OR a.s2 <> b.s2 OR a.e2 <> b.e2
                           OR a.s3 <> b.s3 OR a.e3 <> b.e3))
         SELECT DISTINCT o_custkey FROM (SELECT * FROM dup UNION ALL SELECT * FROM ovl)""",
    "q_date_gaps" ->
      """WITH iv AS (SELECT o_custkey AS k, cast(o_orderdate AS DATE) AS s_date,
                            cast(o_orderdate AS DATE) + 5 AS e_date FROM orders),
              st AS (SELECT k, s_date, row_number() OVER (PARTITION BY k ORDER BY s_date) AS r
                     FROM iv a WHERE NOT EXISTS (SELECT 1 FROM iv h WHERE h.k = a.k
                       AND a.s_date > h.s_date AND a.s_date < h.e_date)),
              en AS (SELECT k, e_date, row_number() OVER (PARTITION BY k ORDER BY e_date) AS r
                     FROM iv a WHERE NOT EXISTS (SELECT 1 FROM iv h WHERE h.k = a.k
                       AND a.e_date > h.s_date AND a.e_date < h.e_date))
         SELECT DISTINCT st.k AS o_custkey FROM st JOIN en
           ON st.k = en.k AND st.r = en.r + 1 AND date_diff('day', en.e_date, st.s_date) > 30""",
    "q_numeric_gaps" ->
      """WITH iv AS (SELECT l_suppkey AS k, l_quantity AS s_num, l_quantity + 2.0 AS e_num FROM lineitem),
              st AS (SELECT k, s_num, row_number() OVER (PARTITION BY k ORDER BY s_num) AS r
                     FROM iv a WHERE NOT EXISTS (SELECT 1 FROM iv h WHERE h.k = a.k
                       AND a.s_num > h.s_num AND a.s_num < h.e_num)),
              en AS (SELECT k, e_num, row_number() OVER (PARTITION BY k ORDER BY e_num) AS r
                     FROM iv a WHERE NOT EXISTS (SELECT 1 FROM iv h WHERE h.k = a.k
                       AND a.e_num > h.s_num AND a.e_num < h.e_num))
         SELECT DISTINCT st.k AS l_suppkey FROM st JOIN en
           ON st.k = en.k AND st.r = en.r + 1 AND st.s_num - en.e_num > 3.0""",
    "q_cross_cdf" ->
      """WITH s1 AS (SELECT l_extendedprice AS v FROM lineitem WHERE l_returnflag = 'R'),
              s2 AS (SELECT l_extendedprice AS v FROM lineitem WHERE l_returnflag = 'A'),
              c1 AS (SELECT v, cast(sum(cnt) OVER (ORDER BY v) AS DOUBLE) / sum(cnt) OVER () AS cdf1
                     FROM (SELECT v, count(*) AS cnt FROM s1 GROUP BY 1)),
              c2 AS (SELECT v, cast(sum(cnt) OVER (ORDER BY v) AS DOUBLE) / sum(cnt) OVER () AS cdf2
                     FROM (SELECT v, count(*) AS cnt FROM s2 GROUP BY 1)),
              j AS (SELECT coalesce(c1.v, c2.v) AS val, c1.cdf1, c2.cdf2
                    FROM c1 FULL OUTER JOIN c2 ON c1.v = c2.v)
         SELECT val,
                coalesce(last_value(cdf1 IGNORE NULLS) OVER
                  (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cdf1,
                coalesce(last_value(cdf2 IGNORE NULLS) OVER
                  (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cdf2
         FROM j""",
    "q_ks_2sample" ->
      """WITH s1 AS (SELECT l_extendedprice AS v FROM lineitem WHERE l_returnflag = 'R'),
              s2 AS (SELECT l_extendedprice AS v FROM lineitem WHERE l_returnflag = 'A'),
              c1 AS (SELECT v, cast(sum(cnt) OVER (ORDER BY v) AS DOUBLE) / sum(cnt) OVER () AS cdf1
                     FROM (SELECT v, count(*) AS cnt FROM s1 GROUP BY 1)),
              c2 AS (SELECT v, cast(sum(cnt) OVER (ORDER BY v) AS DOUBLE) / sum(cnt) OVER () AS cdf2
                     FROM (SELECT v, count(*) AS cnt FROM s2 GROUP BY 1)),
              j AS (SELECT coalesce(c1.v, c2.v) AS val, c1.cdf1, c2.cdf2
                    FROM c1 FULL OUTER JOIN c2 ON c1.v = c2.v),
              f AS (SELECT val,
                coalesce(last_value(cdf1 IGNORE NULLS) OVER
                  (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cdf1,
                coalesce(last_value(cdf2 IGNORE NULLS) OVER
                  (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cdf2
                FROM j)
         SELECT max(abs(cdf1 - cdf2)) AS ks_d FROM f""",
    "q_regex_count" ->
      """SELECT count(*) AS n_violations FROM
         (SELECT DISTINCT o_orderpriority FROM orders)
         WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-')""",
    "q_regex_sample" ->
      """SELECT DISTINCT o_orderpriority FROM orders
         WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-')""",
    "q_groupby_range" ->
      """SELECT l_orderkey FROM (
           SELECT l_orderkey, list_sort(list(l_linenumber)) AS arr, count(*) AS n
           FROM lineitem GROUP BY l_orderkey)
         WHERE arr <> range(1, cast(n AS INTEGER) + 1)"""
  ) ++ trainingOracles

  /** DuckDB oracle for the IMA ADPCM decode: the spec recurrence as a
    * recursive CTE, one row per (doc, sample), with the step-size/index
    * tables emitted from the decoder's own arrays — a transcription error
    * is impossible by construction.
    */
  private def imaAdpcmOracleSql: String = {
    val steps = graft.ops.Multimodal.ImaStepTable.mkString("[", ", ", "]")
    val idxs = graft.ops.Multimodal.ImaIndexTable.mkString("[", ", ", "]")
    s"""WITH RECURSIVE d AS (
              SELECT doc_id, 16 + doc_id % 8 AS nbytes,
                     CAST(doc_id % 1000 - 500 AS INT) AS pred0,
                     CAST(doc_id % 89 AS INT) AS sidx0
              FROM documents WHERE doc_id % 61 = 0),
            rec AS (
              SELECT doc_id, nbytes, 0 AS t, pred0 AS pred, sidx0 AS sidx,
                     pred0 AS sample
              FROM d
              UNION ALL
              SELECT r.doc_id, r.nbytes, r.t + 1, q.np, q.ns, q.np
              FROM rec r,
              LATERAL (
                SELECT CASE WHEN (q1.nib & 8) != 0
                            THEN greatest(-32768, least(32767, r.pred - q2.diff))
                            ELSE greatest(-32768, least(32767, r.pred + q2.diff))
                       END AS np,
                       greatest(0, least(88, r.sidx + $idxs[(q1.nib & 7) + 1])) AS ns
                FROM LATERAL (
                  SELECT CASE WHEN r.t % 2 = 0
                              THEN CAST((r.doc_id * 31 + 7 * (r.t // 2)) % 256
                                   AS INT) & 15
                              ELSE CAST((r.doc_id * 31 + 7 * (r.t // 2)) % 256
                                   AS INT) >> 4
                         END AS nib,
                         $steps[r.sidx + 1] AS step) q1,
                LATERAL (
                  SELECT (q1.step >> 3)
                         + CASE WHEN (q1.nib & 1) != 0 THEN q1.step >> 2 ELSE 0 END
                         + CASE WHEN (q1.nib & 2) != 0 THEN q1.step >> 1 ELSE 0 END
                         + CASE WHEN (q1.nib & 4) != 0 THEN q1.step ELSE 0 END
                           AS diff) q2
              ) q
              WHERE r.t < 2 * r.nbytes),
            lagged AS (
              SELECT doc_id, sample,
                     lag(sample) OVER (PARTITION BY doc_id ORDER BY t) AS prev
              FROM rec),
            agg AS (
              SELECT doc_id, count(*) AS nf, max(abs(sample)) AS peak,
                     sum(abs(CAST(sample AS BIGINT))) AS sum_abs,
                     sum(CAST(sample AS BIGINT) * sample) AS sum_sq,
                     count(*) FILTER (WHERE (prev > 0 AND sample < 0)
                                        OR (prev < 0 AND sample > 0)) AS zc
              FROM lagged GROUP BY doc_id)
       SELECT doc_id, CAST(nf AS INT) AS n_frames, CAST(peak AS INT) AS peak,
              CAST(zc AS BIGINT) AS zero_crossings,
              round(CAST(sum_abs AS DOUBLE) / nf, 6) AS mean_abs,
              round(sqrt(CAST(sum_sq AS DOUBLE) / nf), 6) AS rms
       FROM agg"""
  }

  private val normSql =
    "trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' +', ' ', 'g'))"

  /** Exact inverted-index 5-gram Jaccard over `documents`, parameterized by
    * the pair predicate: within-corpus (`a.doc_id < b.doc_id`) serves
    * `q_ngram_jaccard` / `q_minhash_dedup` / the clustering CTE; the
    * parity-split cross predicate serves `q_cross_neardup` — one CTE chain,
    * no desynchronizable copies.
    */
  private def jaccardSqlWith(pairCond: String): String =
    s"""WITH d AS (SELECT doc_id, $normSql AS t FROM documents),
            sh AS (SELECT doc_id,
                     list_distinct(list_filter(
                       list_transform(range(0, greatest(length(t)-5, 0)+1),
                                      i -> substring(t, i+1, 5)),
                       s -> length(s) = 5)) AS shingles FROM d),
            sh2 AS (SELECT * FROM sh WHERE len(shingles) > 0),
            sizes AS (SELECT doc_id, len(shingles) AS n FROM sh2),
            inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
            common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                       FROM inv a JOIN inv b ON a.s = b.s AND $pairCond
                       GROUP BY 1, 2)
       SELECT id1, id2, round(c::DOUBLE / (s1.n + s2.n - c), 6) AS jaccard
       FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
       WHERE c::DOUBLE / (s1.n + s2.n - c) >= 0.6"""

  private val jaccardSql = jaccardSqlWith("a.doc_id < b.doc_id")

  /** DuckDB oracle for the multi-probe LSH top-k: the hyperplane literals
    * are generated from the SAME deterministic LCG the Spark operator uses,
    * so both engines compute identical sign-bit buckets (±1 components make
    * each dot product an exact, order-identical double addition chain).
    */
  /** The sign-bit bucket expression over `e DOUBLE[]` — shared by the LSH
    * top-k and near-dup oracles; the hyperplane literals come from the SAME
    * deterministic LCG the Spark operators use.
    */
  private def lshBucketExprSql(bits: Int = 8): String = {
    val planes = graft.ops.Similarity.hyperplanes(bits, dim = 64)
    planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(x => if (x > 0) "1.0" else "-1.0").mkString(",")
      s"CASE WHEN list_dot_product(e, [$arr]) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END"
    }.mkString("\n                 + ")
  }

  private def lshOracleSql: String = {
    val bucketExpr = lshBucketExprSql()
    val probeList = (0 until 8).map(i => s"xor(bucket, (1::BIGINT << $i))").mkString(", ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            b AS (SELECT vec_id, e,
                 ($bucketExpr) AS bucket FROM v),
            q AS (SELECT vec_id AS qid, e AS qe,
                    unnest(list_distinct([bucket, $probeList])) AS pbucket
                  FROM b WHERE vec_id < 5),
            scored AS (SELECT q.qid AS query_id, b.vec_id AS neighbor_id,
                         list_cosine_similarity(q.qe, b.e) AS c
                       FROM b JOIN q ON b.bucket = q.pbucket AND b.vec_id <> q.qid),
            ranked AS (SELECT query_id, neighbor_id, c,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY c DESC, neighbor_id) AS r
                       FROM scored)
       SELECT query_id, neighbor_id, round(c, 6) AS cosine, r AS rank
       FROM ranked WHERE r <= 3"""
  }

  /** The banding / bucket-cap / Hamming-verify tail shared by both SimHash
    * oracles, over a CTE `sk`(doc_id, simhash).
    */
  private val simhashPairsTailSql: String =
    s"""chunked AS (SELECT doc_id, simhash, c.chunk,
                          (simhash >> (c.chunk * 16)) & 65535 AS value
                        FROM sk, (SELECT unnest([0,1,2,3]) AS chunk) c),
            sizes AS (SELECT chunk, value, count(*) AS n FROM chunked GROUP BY 1, 2),
            pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                        bit_count(xor(a.simhash, b.simhash)) AS hamming
                      FROM chunked a
                      JOIN chunked b ON a.chunk = b.chunk AND a.value = b.value
                        AND a.doc_id < b.doc_id
                      JOIN sizes s ON s.chunk = a.chunk AND s.value = a.value
                        AND s.n BETWEEN 2 AND 1000)
       SELECT id1, id2, hamming::BIGINT AS hamming FROM pairs WHERE hamming <= 10"""

  /** 64 per-bit vote aggregates over token-hash column `hcol`; bit 63's
    * mask is spelled as a subtraction because DuckDB rejects `1 << 63` as
    * an overflow.
    */
  private def simhashVotesSql(hcol: String): String = {
    def bitMask(b: Int): String =
      if (b == 63) "(-9223372036854775807 - 1)" else s"(1::BIGINT << $b)"
    (0 until 64).map { b =>
      s"CASE WHEN sum(CASE WHEN ($hcol >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN ${bitMask(b)} ELSE 0::BIGINT END"
    }.mkString("\n                 + ")
  }

  /** Single-statement DuckDB spelling of Spark's `xxhash64` (XXH64, seed
    * 42) over ASCII tokens — the full public algorithm (Y. Collet's spec):
    * 32-byte stripe accumulators, merge rounds, 8/4/1-byte tails, final
    * avalanche. Data-dependent loops become recursive CTEs; every value is
    * a HUGEINT kept in [0, 2^64) with the wrapping 64×64 multiply split
    * into 32-bit halves (a full product would overflow the signed 128-bit
    * HUGEINT). Emits CTE `hashed`(doc_id, p, hv) with hv the SIGNED 64-bit
    * value Spark reports. Needs `WITH RECURSIVE` and a `tokens` CTE
    * providing (doc_id, p, t, n = length(t)).
    */
  private object XxhSql {
    private val T  = "18446744073709551616" // 2^64
    private val P1 = "11400714785074694791"
    private val P2 = "14029467366897019727"
    private val P3 = "1609587929392839161"
    private val P4 = "9650029242287828579"
    private val P5 = "2870177450012600261"
    private val Seed = 42L

    private def mult(a: String, b: String): String =
      s"(((($a) * (($b) % 4294967296)) % $T" +
        s" + (((($a) * (($b) // 4294967296)) % 4294967296) * 4294967296)) % $T)"

    private def rotl(x: String, r: Int): String =
      s"(((($x) * ${1L << r}) % $T) + (($x) // ${BigInt(1) << (64 - r)}))"

    private def word(t: String, pos: String, bytes: Int): String =
      (0 until bytes).map { j =>
        s"ord(substr($t, ($pos) + $j, 1))::HUGEINT * ${1L << (8 * j)}"
      }.mkString("(", " + ", ")")

    // stripe round: v' = rotl(v + w*P2, 31) * P1
    private def vStep(v: String, w: String): String =
      mult(rotl(s"(($v + ${mult(w, P2)}) % $T)", 31), P1)

    // merge round: h = (h XOR rotl(v*P2,31)*P1) * P1 + P4
    private def mergeRound(h: String, v: String): String =
      s"((${mult(s"xor($h, ${mult(rotl(mult(v, P2), 31), P1)})", P1)} + $P4) % $T)"

    def chain(tokensCte: String): String = {
      val bigP  = BigInt(1) << 64
      val v1i = (BigInt(Seed) + BigInt(P1) + BigInt(P2)).mod(bigP)
      val v2i = (BigInt(Seed) + BigInt(P2)).mod(bigP)
      val v3i = BigInt(Seed)
      val v4i = (BigInt(Seed) - BigInt(P1)).mod(bigP)
      s"""stripes AS (
   SELECT doc_id, p, t, n, 0::BIGINT AS i,
          $v1i::HUGEINT AS v1, $v2i::HUGEINT AS v2,
          $v3i::HUGEINT AS v3, $v4i::HUGEINT AS v4
   FROM $tokensCte WHERE n >= 32
   UNION ALL
   SELECT doc_id, p, t, n, i + 32,
          ${vStep("v1", word("t", "i + 1", 8))},
          ${vStep("v2", word("t", "i + 9", 8))},
          ${vStep("v3", word("t", "i + 17", 8))},
          ${vStep("v4", word("t", "i + 25", 8))}
   FROM stripes WHERE i + 32 <= n),
 merged AS (
   SELECT doc_id, p, t, n, i AS pos,
          ${mergeRound(
             mergeRound(
               mergeRound(
                 mergeRound(
                   s"((${rotl("v1", 1)} + ${rotl("v2", 7)} + ${rotl("v3", 12)} + ${rotl("v4", 18)}) % $T)",
                   "v1"),
                 "v2"),
               "v3"),
             "v4")} AS h
   FROM stripes WHERE i + 32 > n),
 lenadj AS (
   SELECT doc_id, p, t, n, pos, ((h + n) % $T) AS h FROM merged
   UNION ALL
   SELECT doc_id, p, t, n, 0::BIGINT AS pos,
          (($Seed + $P5 + n) % $T) AS h
   FROM $tokensCte WHERE n < 32),
 w8loop AS (
   SELECT doc_id, p, t, n, pos, h FROM lenadj
   UNION ALL
   SELECT doc_id, p, t, n, pos + 8,
          ((${mult(rotl(s"xor(h, ${mult(rotl(mult(word("t", "pos + 1", 8), P2), 31), P1)})", 27), P1)} + $P4) % $T)
   FROM (SELECT doc_id, p, t, n, pos, h FROM w8loop WHERE pos + 8 <= n) z),
 w4done AS (
   SELECT doc_id, p, t, n,
          CASE WHEN pos + 4 <= n THEN pos + 4 ELSE pos END AS pos,
          CASE WHEN pos + 4 <= n
               THEN ((${mult(rotl(s"xor(h, ${mult(word("t", "pos + 1", 4), P1)})", 23), P2)} + $P3) % $T)
               ELSE h END AS h
   FROM w8loop WHERE pos + 8 > n),
 bloop AS (
   SELECT doc_id, p, t, n, pos, h FROM w4done
   UNION ALL
   SELECT doc_id, p, t, n, pos + 1,
          ${mult(rotl(s"xor(h, (${mult("ord(substr(t, pos + 1, 1))::HUGEINT", P5)}))", 11), P1)}
   FROM (SELECT doc_id, p, t, n, pos, h FROM bloop WHERE pos < n) z),
 aval1 AS (SELECT doc_id, p, ${mult("xor(h, h // 8589934592)", P2)} AS h
           FROM bloop WHERE pos >= n),
 aval2 AS (SELECT doc_id, p, ${mult("xor(h, h // 536870912)", P3)} AS h FROM aval1),
 hashed AS (
   SELECT doc_id, p,
          CASE WHEN xor(h, h // 4294967296) >= 9223372036854775808::HUGEINT
               THEN (xor(h, h // 4294967296) - $T)::BIGINT
               ELSE xor(h, h // 4294967296)::BIGINT END AS hv
   FROM aval2)"""
    }
  }

  /** Winnowing-fingerprint CTE chain (emits `fps`(doc_id, fp) — the sorted
    * distinct window-min shingle-hash set of `WinnowHashes`): per-position
    * 8-char shingles, each hashed with the full XXH64 re-derivation
    * (`XxhSql`), then the window minimum over every run of 4 consecutive
    * positions (`min() OVER ... ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING`,
    * valid starts only) with the short-document (< w shingles) global-min
    * degradation — the declarative spelling of the deque kernel, exact
    * because window-min VALUES are tie-rule independent.
    */
  private def winnowFpSqlWith(docFilter: String): String =
    s"""d AS (SELECT doc_id, $normSql AS norm FROM documents
                  WHERE text IS NOT NULL AND ($docFilter)),
            sp AS (SELECT doc_id, norm,
                     unnest(range(1, greatest(length(norm) - 8 + 1, 0) + 1)) AS p
                   FROM d),
            tokn AS (SELECT doc_id, p, substring(norm, p, 8) AS t,
                       length(substring(norm, p, 8))::BIGINT AS n FROM sp),
            ${XxhSql.chain("tokn")},
            mm AS (SELECT doc_id, count(*) AS m FROM hashed GROUP BY 1),
            wmins AS (SELECT h.doc_id, h.p, mm.m,
                        min(hv) OVER (PARTITION BY h.doc_id ORDER BY h.p
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                      FROM hashed h JOIN mm ON h.doc_id = mm.doc_id),
            sel AS (SELECT doc_id, fp FROM wmins WHERE m >= 4 AND p <= m - 3
                    UNION ALL
                    SELECT h.doc_id, min(hv) AS fp
                    FROM hashed h JOIN mm ON h.doc_id = mm.doc_id
                    WHERE mm.m < 4 GROUP BY h.doc_id),
            fps AS (SELECT DISTINCT doc_id, fp FROM sel)"""

  /** Full-hash DuckDB oracle for the PRODUCTION SimHash path: the token
    * hash is Spark's own xxhash64, re-derived in SQL (`XxhSql`), so
    * `q_simhash_pairs` no longer needs a rows-only concession.
    */
  private def simhashXxhOracleSql: String =
    s"""WITH RECURSIVE
            d AS (SELECT doc_id, $normSql AS norm FROM documents
                  WHERE text IS NOT NULL),
            tok AS (SELECT doc_id,
                      unnest(string_split(norm, ' ')) AS t,
                      unnest(range(1, len(string_split(norm, ' ')) + 1)) AS p
                    FROM d),
            tokn AS (SELECT doc_id, p, t, length(t)::BIGINT AS n FROM tok),
            ${XxhSql.chain("tokn")},
            sk AS (SELECT doc_id, (${simhashVotesSql("hv")}) AS simhash
                   FROM hashed GROUP BY doc_id),
            $simhashPairsTailSql"""

  /** DuckDB oracle for the md5-flavored SimHash pipeline. */
  private def simhashMd5OracleSql: String = {
    val votes = simhashVotesSql("h")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
                      FROM documents WHERE text IS NOT NULL),
            hashed AS (SELECT doc_id,
                         ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM toks),
            sk AS (SELECT doc_id, ($votes) AS simhash
                   FROM hashed GROUP BY doc_id),
            $simhashPairsTailSql"""
  }

  /** Inlined positional hex parse of the first 6 md5 digits of column
    * `hcol` scaled to [0,1) — the DuckDB spelling of `decodeStub`'s
    * feature arithmetic (24-bit dyadic fractions are exact in both
    * engines' float types, so round-6 agrees bit-for-bit).
    */
  private def stubFeatureSql(hcol: String): String = {
    val digits = (1 to 6).map { p =>
      s"(strpos('0123456789abcdef', substr($hcol, $p, 1)) - 1) * ${1L << (4 * (6 - p))}"
    }.mkString("\n                 + ")
    s"round(($digits) / 16777216.0, 6)"
  }

  /** Shared DSIR oracle chain: empty-filtered normalized tokens, unigram +
    * bigram features, md5 buckets mod 512, smoothed log-ratio spine, exact
    * decimal per-doc weights (target = doc_id % 7 == 0, raw = all docs).
    */
  private def dsirChainSql: String =
    s"""d AS (SELECT doc_id, list_filter(string_split($normSql, ' '),
                                         t -> t <> '') AS toks
              FROM documents WHERE text IS NOT NULL),
        uni AS (SELECT doc_id, unnest(toks) AS g FROM d),
        bi AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                     FROM d WHERE len(toks) > 1)),
        feats AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
        fb AS (SELECT doc_id,
                 ('0x' || substring(md5(g), 1, 15))::BIGINT % 512 AS b FROM feats),
        tgt AS (SELECT b, count(*) AS ct FROM fb WHERE doc_id % 7 = 0 GROUP BY 1),
        rw AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
        nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS n FROM tgt),
        nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS n FROM rw),
        lr AS (SELECT sp.b,
                 CAST(ln(((coalesce(ct, 0) + 0.5) / (nt.n + 256.0)) /
                         ((coalesce(cr, 0) + 0.5) / (nr.n + 256.0)))
                      AS DECIMAL(20,12)) AS lr
               FROM (SELECT unnest(range(0, 512)) AS b) sp
               LEFT JOIN tgt ON sp.b = tgt.b
               LEFT JOIN rw ON sp.b = rw.b
               CROSS JOIN nt CROSS JOIN nr),
        db AS (SELECT doc_id, b, count(*) AS cnt FROM fb GROUP BY 1, 2),
        w AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_features,
                     CAST(sum(CAST(cnt AS DECIMAL(17,0)) * lr) AS DECIMAL(38,12)) AS logw_raw
              FROM db JOIN lr USING (b) GROUP BY doc_id)"""

  /** Unrolled 2-round logistic-GD oracle for `q_classifier_score`:
    * md5-hashed unigram+bigram buckets mod 256, labels y = (doc_id % 7 ==
    * 0), lr = 0.5, full-batch. Decimal casts mirror Classifier exactly:
    * per-term (17,0)·(20,12) products, (30,12)-before-bias-addition
    * margins, (20,12) weight-table rounding of the double weights; the
    * weight-update arithmetic runs in DOUBLE (IEEE ops are bit-identical
    * across engines).
    */
  private def classifierOracleSql: String =
    s"""WITH clf AS (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS y
                     FROM documents),
            cd AS (SELECT doc_id, list_filter(string_split($normSql, ' '),
                                              t -> t <> '') AS toks
                   FROM documents WHERE text IS NOT NULL),
            cuni AS (SELECT doc_id, unnest(toks) AS g FROM cd),
            cbi AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
                    FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                          FROM cd WHERE len(toks) > 1)),
            cfeats AS (SELECT doc_id, g FROM cuni UNION ALL SELECT doc_id, g FROM cbi),
            cdb AS (SELECT doc_id,
                      ('0x' || substring(md5(g), 1, 15))::BIGINT % 256 AS b,
                      count(*) AS cnt
                    FROM cfeats GROUP BY 1, 2),
            nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM cdb),
            e0 AS (SELECT clf.doc_id, CAST(0.5 - y AS DECIMAL(20,12)) AS err
                   FROM clf WHERE clf.doc_id IN (SELECT doc_id FROM cdb)),
            g1 AS (SELECT b, CAST(sum(CAST(cnt AS DECIMAL(17,0)) * err)
                                  AS DECIMAL(38,12)) AS g
                   FROM cdb JOIN e0 USING (doc_id) GROUP BY b),
            bg1 AS (SELECT CAST(sum(err) AS DECIMAL(38,12)) AS bg FROM e0),
            w1 AS (SELECT b, 0.0 - 0.5 * (CAST(g AS DOUBLE) / nn.n) AS wd
                   FROM g1 CROSS JOIN nn),
            b1 AS (SELECT 0.0 - 0.5 * (CAST(bg AS DOUBLE) / nn.n) AS bd
                   FROM bg1 CROSS JOIN nn),
            m1 AS (SELECT doc_id,
                     CAST(CAST(sum(CAST(cnt AS DECIMAL(17,0)) *
                                   CAST(wd AS DECIMAL(20,12))) AS DECIMAL(30,12))
                          + CAST((SELECT bd FROM b1) AS DECIMAL(20,12))
                          AS DECIMAL(38,12)) AS m
                   FROM cdb JOIN w1 USING (b) GROUP BY doc_id),
            e1 AS (SELECT m1.doc_id,
                     CAST(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))) - y
                          AS DECIMAL(20,12)) AS err
                   FROM m1 JOIN clf ON m1.doc_id = clf.doc_id),
            g2 AS (SELECT b, CAST(sum(CAST(cnt AS DECIMAL(17,0)) * err)
                                  AS DECIMAL(38,12)) AS g
                   FROM cdb JOIN e1 USING (doc_id) GROUP BY b),
            bg2 AS (SELECT CAST(sum(err) AS DECIMAL(38,12)) AS bg FROM e1),
            w2 AS (SELECT w1.b,
                     w1.wd - 0.5 * (CAST(coalesce(g2.g, 0) AS DOUBLE) / nn.n) AS wd
                   FROM w1 LEFT JOIN g2 ON w1.b = g2.b CROSS JOIN nn),
            b2 AS (SELECT b1.bd - 0.5 * (CAST(bg2.bg AS DOUBLE) / nn.n) AS bd
                   FROM b1 CROSS JOIN bg2 CROSS JOIN nn),
            m2 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_features,
                     CAST(CAST(sum(CAST(cnt AS DECIMAL(17,0)) *
                                   CAST(wd AS DECIMAL(20,12))) AS DECIMAL(30,12))
                          + CAST((SELECT bd FROM b2) AS DECIMAL(20,12))
                          AS DECIMAL(38,12)) AS m
                   FROM cdb JOIN w2 USING (b) GROUP BY doc_id)
       SELECT doc_id, n_features, CAST(round(m, 6) AS DOUBLE) AS margin,
              round(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))), 6) AS score
       FROM m2"""

  private def trainingOracles: Map[String, String] = Map(
    "q_classifier_score" -> classifierOracleSql,
    // the IDENTICAL regex chain as Web.extractHtmlText, applied by RE2 —
    // patterns are in the Java∩RE2 portable subset, so the chain is
    // transcribed step-for-step (programmatic fold, no hand-copied
    // variants to drift)
    "q_html_extract" -> {
      val repl = Map(
        " " -> "' '", "\n" -> "chr(10)", "&" -> "'&'", "<" -> "'<'",
        ">" -> "'>'", "\"" -> "'\"'", "'" -> "''''")
      val steps = Seq(
        "(?is)<script[^>]*>.*?</script>" -> " ",
        "(?is)<style[^>]*>.*?</style>" -> " ",
        "(?s)<!--.*?-->" -> " ",
        "(?i)</(p|div|h[1-6]|li|ul|ol|table|tr|blockquote|section|article)>|<br[^>]*>" -> "\n",
        "<[^>]*>" -> " ",
        "&nbsp;" -> " ",
        "&amp;" -> "&",
        "&lt;" -> "<",
        "&gt;" -> ">",
        "&quot;" -> "\"",
        "&#39;" -> "'",
        "[ \\t\\x0B\\f\\r]+" -> " ",
        " ?\\n ?" -> "\n",
        "\\n{2,}" -> "\n")
      val chain = steps.foldLeft("html") { case (acc, (pat, r)) =>
        s"regexp_replace($acc, '$pat', ${repl(r)}, 'g')"
      }
      s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
              h AS (SELECT doc_id,
                      '<html><head><title>T</title><style>p{color:red}</style><script>if(a<b){alert("x</p>");}</script></head><body><h1>Doc '
                      || doc_id || '</h1><p>'
                      || regexp_replace(regexp_replace(regexp_replace(t,
                           '&', '&amp;', 'g'), '<', '&lt;', 'g'), '>', '&gt;', 'g')
                      || '</p><div>tail&nbsp;&amp;&lt;raw&gt;</div><!-- hidden -->line<br/>break</body></html>'
                        AS html
                    FROM d),
              e AS (SELECT doc_id, trim($chain) AS x FROM h)
         SELECT doc_id, CAST(length(x) AS BIGINT) AS n_chars,
                md5(x) AS text_md5
         FROM e"""
    },
    // closed-form record geometry: the parser's output is fully
    // determined by the synthesis formula (3 records/doc; WARC-Type and
    // Content-Length are consumed by the parser, so n_headers counts the
    // REMAINING headers)
    "q_warc_parse" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t
                    FROM documents WHERE doc_id % 13 = 0),
             rs AS (
               SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
                      1 AS n_headers, 17 AS content_length,
                      md5('robots: classic' || chr(13) || chr(10)) AS payload_md5
               FROM d
               UNION ALL
               SELECT doc_id, 1, 'response', 2, strlen(t), md5(t) FROM d
               UNION ALL
               SELECT doc_id, 2, 'metadata', 1,
                      strlen('len:' || strlen(t)),
                      md5('len:' || strlen(t)) FROM d)
         SELECT doc_id, CAST(rec_idx AS BIGINT) AS rec_idx, warc_type,
                CAST(n_headers AS BIGINT) AS n_headers,
                CAST(content_length AS BIGINT) AS content_length,
                payload_md5, true AS warc_valid
         FROM rs""",
    "q_script_mix" -> {
      val samples = Seq(
        "привет мир", "你好世界", "مرحبا بالعالم", "안녕하세요",
        "こんにちは", "カタカナ", "नमस्ते दुनिया", "γεια σου κόσμε",
        "שלום עולם")
      val injectCase = samples.zipWithIndex
        .map { case (txt, i) => s"WHEN doc_id % 11 = $i THEN '$txt'" }
        .mkString(" ")
      val scripts = graft.ops.TextAnalysis.ScriptNames
      val cnts = scripts.map(n =>
        s"len(regexp_extract_all(t2, '[\\p{$n}]')) AS c_${n.toLowerCase}")
        .mkString(",\n                 ")
      val totalExpr = scripts.map(n => s"c_${n.toLowerCase}").mkString(" + ")
      val fracs = scripts.map(n =>
        s"round(CAST(c_${n.toLowerCase} AS DOUBLE) / greatest($totalExpr, 1), 6) AS ${n.toLowerCase}_frac")
        .mkString(",\n               ")
      s"""WITH e AS (SELECT doc_id,
                       concat_ws(' ', coalesce(text, ''),
                         CASE $injectCase ELSE '' END) AS t2
                     FROM documents),
              c AS (SELECT doc_id,
                 $cnts
                    FROM e)
         SELECT doc_id, CAST($totalExpr AS BIGINT) AS n_script_chars,
               $fracs
         FROM c"""
    },
    // reuses the DSIR chain's md5-bucket histograms and smoothing
    // constants (nBuckets 512 → +256.0 denominators)
    "q_text_drift_kl" ->
      s"""WITH $dsirChainSql,
              kl AS (SELECT CAST(sum(CAST(
                       ((coalesce(cr, 0) + 0.5) / (nr.n + 256.0)) *
                       ln(((coalesce(cr, 0) + 0.5) / (nr.n + 256.0)) /
                          ((coalesce(ct, 0) + 0.5) / (nt.n + 256.0)))
                       AS DECIMAL(20,12))) AS DECIMAL(38,12)) AS v
                     FROM (SELECT unnest(range(0, 512)) AS b) sp
                     LEFT JOIN tgt ON sp.b = tgt.b
                     LEFT JOIN rw ON sp.b = rw.b
                     CROSS JOIN nt CROSS JOIN nr)
         SELECT CAST(round(v, 6) AS DOUBLE) AS kl FROM kl""",
    "q_shard_assign" ->
      s"""WITH d AS (SELECT doc_id,
                       len(string_split($normSql, ' '))::BIGINT AS tok_w
                     FROM documents WHERE text IS NOT NULL),
              r AS (SELECT doc_id, tok_w,
                      row_number() OVER (ORDER BY tok_w DESC, doc_id ASC) AS rk
                    FROM d)
         SELECT doc_id, tok_w, CAST(rk AS BIGINT) AS shard_rank,
                CAST(CASE WHEN ((rk - 1) // 8) % 2 = 0 THEN (rk - 1) % 8
                          ELSE 7 - (rk - 1) % 8 END AS BIGINT) AS shard
         FROM r""",
    "q_dsir_weights" ->
      s"""WITH $dsirChainSql
         SELECT doc_id, n_features,
                CAST(round(logw_raw, 6) AS DOUBLE) AS logw FROM w""",
    "q_dsir_sample" ->
      s"""WITH $dsirChainSql,
              g AS (SELECT doc_id, n_features, logw_raw,
                      CAST(logw_raw AS DOUBLE)
                        - ln(-ln((('0x' || substring(md5(doc_id::VARCHAR || ':gate'), 1, 13))::BIGINT
                                  + 0.5) / 4503599627370496.0)) AS gum
                    FROM w),
              r AS (SELECT doc_id, n_features, logw_raw, gum,
                      row_number() OVER (ORDER BY gum DESC, doc_id ASC) AS rank
                    FROM g)
         SELECT doc_id, n_features,
                CAST(round(logw_raw, 6) AS DOUBLE) AS logw,
                round(gum, 6) AS gumbel,
                CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 50""",
    "q_embedding_lsh" -> lshOracleSql,
    // stub feature path: feature i = first 24 bits of md5(payload ++ ":i")
    // — fully recomputable from the text bytes (NULL text decodes as empty)
    "q_multimodal_features" ->
      s"""WITH h AS (SELECT doc_id,
                  md5(coalesce(text, '') || ':0') AS h0,
                  md5(coalesce(text, '') || ':7') AS h7
                FROM documents)
         SELECT doc_id,
                ${stubFeatureSql("h0")} AS f0,
                ${stubFeatureSql("h7")} AS f7
         FROM h""",
    // embedding near-dup pairs: the same deterministic 32 sign bits BANDED
    // into 4×8-bit sub-keys with the 1000-member bucket cap (mirrors the
    // SimHash oracle's chunked/sizes/pairs shape); candidates are DISTINCT
    // pairs agreeing on any band, then exact-cosine verified. Membership is
    // on the COARSE rounded value: the flip window at a rounding midpoint
    // shrinks with the grid, so a last-ulp engine divergence is ~1e-13/pair.
    "q_embedding_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             k AS (SELECT vec_id, e,
                  (${lshBucketExprSql(bits = 32)}) AS key FROM v),
             banded AS (SELECT vec_id, bd.band AS band,
                          (key >> (bd.band * 8)) & 255 AS bucket
                        FROM k, (SELECT unnest([0,1,2,3]) AS band) bd),
             sizes AS (SELECT band, bucket, count(*) AS n
                       FROM banded GROUP BY 1, 2),
             pairs AS (SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
                       FROM banded a
                       JOIN banded b2 ON a.band = b2.band
                         AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
                       JOIN sizes s ON s.band = a.band AND s.bucket = a.bucket
                         AND s.n BETWEEN 2 AND 1000)
         SELECT p.id1, p.id2,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35""",
    // cross-corpus embedding near-dups: same banded sub-keys, per-side
    // [1,1000] caps, cross-parity pairs only
    "q_cross_embedding" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             k AS (SELECT vec_id, e,
                  (${lshBucketExprSql(bits = 32)}) AS key FROM v),
             bandedA AS (SELECT vec_id, bd.band AS band,
                           (key >> (bd.band * 8)) & 255 AS bucket
                         FROM k, (SELECT unnest([0,1,2,3]) AS band) bd
                         WHERE vec_id % 2 = 0),
             bandedB AS (SELECT vec_id, bd.band AS band,
                           (key >> (bd.band * 8)) & 255 AS bucket
                         FROM k, (SELECT unnest([0,1,2,3]) AS band) bd
                         WHERE vec_id % 2 = 1),
             sizesA AS (SELECT band, bucket, count(*) AS n
                        FROM bandedA GROUP BY 1, 2),
             sizesB AS (SELECT band, bucket, count(*) AS n
                        FROM bandedB GROUP BY 1, 2),
             pairs AS (SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
                       FROM bandedA a
                       JOIN bandedB b2 ON a.band = b2.band
                         AND a.bucket = b2.bucket
                       JOIN sizesA sa ON sa.band = a.band
                         AND sa.bucket = a.bucket
                         AND sa.n BETWEEN 1 AND 1000
                       JOIN sizesB sb ON sb.band = b2.band
                         AND sb.bucket = b2.bucket
                         AND sb.n BETWEEN 1 AND 1000)
         SELECT p.id1, p.id2,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35""",
    "q_simhash_md5" -> simhashMd5OracleSql,
    "q_simhash_pairs" -> simhashXxhOracleSql,
    "q_winnow_fp" ->
      s"""WITH RECURSIVE
            ${winnowFpSqlWith("doc_id % 3 = 0")}
         SELECT doc_id, fp FROM fps""",
    "q_pagerank" -> {
      val iters = 5
      def contrib(prev: String) =
        s"""(SELECT e.dst AS node,
               CAST(sum(CAST((CAST(p.pr AS DOUBLE) * CAST(0.85 AS DOUBLE))
                             / CAST(od.deg AS DOUBLE) AS DECIMAL(28, 18)))
                 AS DECIMAL(28, 18)) AS contrib
             FROM e JOIN $prev p ON e.src = p.node
             JOIN od ON od.src = e.src
             GROUP BY 1)"""
      val rounds = (1 to iters).map { k =>
        s"""pr$k AS (SELECT n2.node,
               CAST(CAST((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                      AS DECIMAL(28, 18))
                    + coalesce(s.contrib, CAST(0 AS DECIMAL(28, 18)))
                 AS DECIMAL(28, 18)) AS pr
             FROM nodes n2 CROSS JOIN nn
             LEFT JOIN ${contrib(s"pr${k - 1}")} s ON n2.node = s.node)"""
      }.mkString(",\n             ")
      s"""WITH e AS (SELECT doc_id % 50 AS src,
                       (doc_id * 7 + 3) % 50 AS dst FROM documents),
             nodes AS (SELECT DISTINCT node FROM
                         (SELECT src AS node FROM e
                          UNION ALL SELECT dst FROM e)),
             nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
             od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
             pr0 AS (SELECT node, CAST(CAST(1 AS DOUBLE) / nn.n
                       AS DECIMAL(28, 18)) AS pr FROM nodes, nn),
             $rounds
         SELECT node, round(CAST(pr AS DOUBLE), 9) AS pagerank FROM pr$iters"""
    },
    "q_warc_source" ->
      """SELECT * FROM (VALUES
           ('n_records', TRUE), ('n_files', TRUE),
           ('one_partition_per_file', TRUE), ('uri_roundtrip', TRUE),
           ('length_closed_form', TRUE), ('all_valid', TRUE))
         AS t(probe, ok)""",
    "q_fuzzy_pairs" ->
      """WITH t AS (SELECT doc_id,
                      source || '-' || (doc_id % 40)::VARCHAR AS t0
                    FROM documents),
             titles AS (SELECT doc_id,
                          CASE WHEN doc_id % 2 = 1
                               THEN substring(t0, 1, 3) || 'x' || substring(t0, 4)
                               ELSE t0 END AS title
                        FROM t)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                levenshtein(a.title, b.title)::BIGINT AS dist
         FROM titles a JOIN titles b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.title, b.title) <= 1""",
    "q_hll_grouped" ->
      """WITH h AS (SELECT l_returnflag AS k,
                      ('0x' || substring(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
                    FROM lineitem
                    WHERE l_partkey IS NOT NULL AND l_returnflag IS NOT NULL),
             r AS (SELECT k, h % 64 AS b,
                     max(CASE WHEN h // 64 = 0 THEN 55
                              ELSE 54 - length(bin(h // 64)) + 1 END) AS r
                   FROM h GROUP BY 1, 2),
             e AS (SELECT k, count(*) AS n_hit, 64 - count(*) AS nz,
                     CAST(sum(CAST(pow(2, 54 - r) AS DECIMAL(38, 0)))
                          AS DOUBLE) AS hs
                   FROM r GROUP BY 1),
             est AS (SELECT k, n_hit, nz,
                       (((0.7213 / (1 + 1.079 / 64.0)) * 64.0) * 64.0)
                         * pow(2, 54)
                         / (hs + CAST(64 - n_hit AS DOUBLE) * pow(2, 54))
                         AS raw
                     FROM e)
         SELECT k AS l_returnflag, n_hit,
                round(CASE WHEN raw <= 160.0 AND nz > 0
                           THEN 64.0 * ln(64.0 / nz) ELSE raw END, 6)
                  AS estimate
         FROM est""",
    "q_mad_outliers" ->
      """WITH v AS (SELECT o_orderkey, round(o_totalprice * 100)::HUGEINT AS v
                    FROM orders WHERE o_totalprice IS NOT NULL),
             n AS (SELECT count(*) AS n FROM v),
             ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM v),
             m2 AS (SELECT
                      (SELECT v FROM ranked, n WHERE r = (n + 1) // 2)
                      + (SELECT v FROM ranked, n WHERE r = (n + 2) // 2) AS m2),
             devs AS (SELECT o_orderkey, abs(2 * v - m2) AS dev FROM v, m2),
             dr AS (SELECT dev, row_number() OVER (ORDER BY dev) AS r FROM devs),
             d2 AS (SELECT
                      (SELECT dev FROM dr, n WHERE r = (n + 1) // 2)
                      + (SELECT dev FROM dr, n WHERE r = (n + 2) // 2) AS d2)
         SELECT o_orderkey,
                (2 * dev * 10000 > 29652 * d2) AS is_outlier
         FROM devs, d2""",
    "q_char_entropy" ->
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents
                     WHERE text IS NOT NULL),
             pos AS (SELECT doc_id, norm,
                       unnest(range(1, length(norm) + 1)) AS p FROM d),
             cnt AS (SELECT doc_id, substring(norm, p, 1) AS c, count(*) AS n
                     FROM pos GROUP BY 1, 2),
             tot AS (SELECT doc_id, sum(n) AS nn, count(*) AS nd,
                       max(n) AS topn FROM cnt GROUP BY 1),
             ent AS (SELECT cnt.doc_id,
                       sum(CAST(-(n::DOUBLE / nn) * ln(n::DOUBLE / nn)
                           AS DECIMAL(28, 18))) AS h
                     FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
                     GROUP BY 1)
         SELECT t.doc_id, t.nn::BIGINT AS n_chars, t.nd::BIGINT AS n_distinct,
                round(t.topn::DOUBLE / t.nn, 6) AS top_frac,
                round(h::DOUBLE, 6) AS entropy
         FROM tot t JOIN ent e ON t.doc_id = e.doc_id""",
    "q_zorder" -> {
      def bucket(v: String, lo: String, hi: String) =
        s"""CASE WHEN $hi - $lo <= 0 OR $v IS NULL THEN 0
                 ELSE least(255, greatest(0,
                   floor(($v::DOUBLE - $lo) / ($hi - $lo) * 256)::BIGINT)) END"""
      val interleave = (0 until 8).flatMap { i =>
        Seq(s"(((b0 >> $i) & 1) << ${2 * i})",
          s"(((b1 >> $i) & 1) << ${2 * i + 1})")
      }.mkString("\n                  + ")
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
                      FROM lineitem WHERE l_orderkey % 199 = 0),
             b AS (SELECT min(l_partkey)::DOUBLE AS min0,
                          max(l_partkey)::DOUBLE AS max0,
                          min(l_suppkey)::DOUBLE AS min1,
                          max(l_suppkey)::DOUBLE AS max1 FROM li),
             bk AS (SELECT l_orderkey, l_linenumber,
                      ${bucket("l_partkey", "min0", "max0")} AS b0,
                      ${bucket("l_suppkey", "min1", "max1")} AS b1
                    FROM li, b)
         SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
                ($interleave)::BIGINT AS zorder_key
         FROM bk"""
    },
    "q_robots" ->
      """WITH ids AS (SELECT doc_id, (doc_id % 3)::VARCHAR AS k,
                        (doc_id % 2)::VARCHAR AS m
                      FROM documents WHERE doc_id % 13 = 0),
             urls AS (SELECT doc_id, k, m,
                        unnest(['/private' || k || '/x',
                                '/private' || k || '/ok/page',
                                '/bot' || m || 'xyz',
                                '/pub/page']) AS path
                      FROM ids),
             ag AS (SELECT unnest(['*', 'graftbot']) AS agent),
             evald AS (SELECT doc_id::VARCHAR || ':' || path AS id,
                         agent, path, k, m FROM urls, ag)
         SELECT id, agent,
                CASE WHEN agent = '*' THEN
                       CASE WHEN starts_with(path, '/private' || k || '/ok')
                              THEN TRUE
                            WHEN starts_with(path, '/private' || k || '/')
                              THEN FALSE
                            ELSE TRUE END
                     ELSE NOT starts_with(path, '/bot' || m) END AS allowed,
                CASE WHEN agent = '*' THEN
                       CASE WHEN starts_with(path, '/private' || k || '/ok')
                              THEN '/private' || k || '/ok'
                            WHEN starts_with(path, '/private' || k || '/')
                              THEN '/private' || k || '/'
                            ELSE NULL END
                     WHEN starts_with(path, '/bot' || m)
                       THEN '/bot' || m || '*'
                     ELSE NULL END AS matched_pattern
         FROM evald""",
    "q_bm25" ->
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents
                     WHERE text IS NOT NULL),
             tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
             tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
                    WHERE t <> '' GROUP BY 1, 2),
             lens AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
             corpus AS (SELECT count(*) AS n, sum(dl) AS tot FROM lens),
             q AS (SELECT * FROM (VALUES
                     ('q_scan', 'table scan fast'),
                     ('q_stream', 'stream window batch'),
                     ('q_join', 'join merge hash')) AS v(query_id, query_text)),
             qt AS (SELECT DISTINCT query_id, t FROM (
                      SELECT query_id,
                             unnest(string_split(query_text, ' ')) AS t FROM q)
                    WHERE t <> ''),
             dfq AS (SELECT t, count(*) AS df FROM tf
                     WHERE t IN (SELECT t FROM qt) GROUP BY 1),
             terms AS (SELECT qt.query_id, tf.doc_id,
                         CAST(ln((c.n::DOUBLE - dfq.df + 0.5)
                                  / (dfq.df::DOUBLE + 0.5) + 1.0)
                              * tf.tf * 2.2
                              / (tf.tf + 1.2 * (0.25
                                  + 0.75 * lens.dl
                                    / (c.tot::DOUBLE / c.n::DOUBLE)))
                           AS DECIMAL(38, 12)) AS term
                       FROM qt
                       JOIN tf ON qt.t = tf.t
                       JOIN dfq ON dfq.t = qt.t
                       JOIN lens ON tf.doc_id = lens.doc_id,
                       corpus c),
             scored AS (SELECT query_id, doc_id,
                          round(sum(term), 6)::DOUBLE AS score
                        FROM terms GROUP BY 1, 2),
             ranked AS (SELECT query_id, doc_id, score,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
                        FROM scored)
         SELECT query_id, doc_id, score, rank::BIGINT AS rank
         FROM ranked WHERE rank <= 10""",
    "q_kmv_sketch" ->
      """WITH d AS (SELECT DISTINCT l_partkey::VARCHAR AS v FROM lineitem
                    WHERE l_partkey IS NOT NULL),
             h AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS kmv_hash,
                          v AS kmv_value FROM d)
         SELECT kmv_hash, kmv_value FROM h ORDER BY kmv_hash LIMIT 128""",
    "q_kmv_estimate" ->
      """WITH d AS (SELECT DISTINCT l_partkey::VARCHAR AS v FROM lineitem
                    WHERE l_partkey IS NOT NULL),
             h AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS kmv_hash
                   FROM d),
             sk AS (SELECT kmv_hash FROM h ORDER BY kmv_hash LIMIT 128)
         SELECT count(*)::BIGINT AS n_sketch,
                CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
                     ELSE round(127.0 * 1152921504606846976
                                / max(kmv_hash)::DOUBLE) END AS estimate
         FROM sk""",
    "q_kmv_intersect" ->
      """WITH da AS (SELECT DISTINCT o_custkey::VARCHAR AS v FROM orders
                     WHERE o_orderkey % 2 = 0 AND o_custkey IS NOT NULL),
             skA AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM da ORDER BY 1 LIMIT 256),
             db AS (SELECT DISTINCT o_custkey::VARCHAR AS v FROM orders
                    WHERE o_orderkey % 2 = 1 AND o_custkey IS NOT NULL),
             skB AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM db ORDER BY 1 LIMIT 256),
             u AS (SELECT h FROM (SELECT h FROM skA UNION SELECT h FROM skB)
                   ORDER BY h LIMIT 256),
             st AS (SELECT count(*) AS nl, max(h) AS hmax FROM u),
             cm AS (SELECT count(*) AS nc FROM u
                    WHERE h IN (SELECT h FROM skA)
                      AND h IN (SELECT h FROM skB)),
             est AS (SELECT nl, nc,
                       CASE WHEN nl < 256 THEN nl::DOUBLE
                            ELSE round(255.0 * 1152921504606846976
                                       / hmax::DOUBLE) END AS union_est,
                       CASE WHEN nl > 0 THEN nc::DOUBLE / nl END AS jac
                     FROM st CROSS JOIN cm)
         SELECT nl::BIGINT AS n_union_sketch, nc::BIGINT AS n_common,
                round(jac, 6) AS jaccard_est, union_est,
                round(jac * union_est, 6) AS intersect_est
         FROM est""",
    "q_kmv_quantiles" ->
      """WITH d AS (SELECT DISTINCT o_custkey::VARCHAR AS v FROM orders
                    WHERE o_custkey IS NOT NULL),
             h AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS kmv_hash,
                          v FROM d),
             sk AS (SELECT kmv_hash, v FROM h ORDER BY kmv_hash LIMIT 256),
             ranked AS (SELECT v::DOUBLE AS val,
                          row_number() OVER (ORDER BY v::DOUBLE) AS r,
                          count(*) OVER () AS n FROM sk),
             qs AS (SELECT unnest([0.1, 0.5, 0.9])::DOUBLE AS quantile)
         SELECT q.quantile AS quantile, ranked.val AS value
         FROM qs q JOIN ranked
           ON ranked.r = greatest(1, ceil(q.quantile * ranked.n))""",
    "q_winnow_overlap" ->
      s"""WITH RECURSIVE
            ${winnowFpSqlWith("TRUE")},
            ev AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 1),
            corp AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 0),
            agg AS (SELECT c.doc_id, count(*) AS n_fp, count(e.fp) AS n_matched
                    FROM corp c LEFT JOIN ev e ON c.fp = e.fp GROUP BY 1)
         SELECT doc_id, n_fp::BIGINT AS n_fp, n_matched::BIGINT AS n_matched,
                round(n_matched::DOUBLE / n_fp, 6) AS containment,
                (n_matched::DOUBLE / n_fp) >= 0.5 AS flagged
         FROM agg""",
    "q_heavy_hitters" ->
      """WITH c AS (SELECT l_returnflag, count(*) AS n_rows
                 FROM lineitem GROUP BY 1),
             t AS (SELECT sum(n_rows) AS total FROM c)
         SELECT l_returnflag, n_rows,
                round(n_rows::DOUBLE / total, 6) AS share
         FROM c, t WHERE n_rows > total * 0.2""",
    // semantic near-dups: first-64-by-id centroids (the stride-1 sample),
    // argmax over round(cosine, 6) with ties to the smallest centroid id,
    // [2, 1000]-capped within-cluster pairs, exact-cosine verify with the
    // coarse rounded membership
    "q_semantic_neardup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings
                 WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
             cent AS (SELECT vec_id AS cid, e AS cvec FROM v
                      ORDER BY vec_id LIMIT 64),
             scored AS (SELECT vec_id, cid,
                          round(list_cosine_similarity(e, cvec), 6) AS sim
                        FROM v, cent),
             assigned AS (SELECT vec_id, cid AS cluster FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cid) AS rn
                 FROM scored) t WHERE rn = 1),
             sizes AS (SELECT cluster, count(*) AS n FROM assigned GROUP BY 1),
             ok AS (SELECT a.vec_id, a.cluster FROM assigned a
                    JOIN sizes s ON a.cluster = s.cluster
                      AND s.n BETWEEN 2 AND 1000),
             pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.cluster
                       FROM ok a JOIN ok b ON a.cluster = b.cluster
                         AND a.vec_id < b.vec_id)
         SELECT p.id1, p.id2, p.cluster,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35""",
    // multi-probe flavor: rn <= 2 probe cells per vector, size cap per
    // probe cell, pairs from any shared cell deduplicated to min(cell)
    "q_semantic_mp" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings
                 WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
             cent AS (SELECT vec_id AS cid, e AS cvec FROM v
                      ORDER BY vec_id LIMIT 64),
             scored AS (SELECT vec_id, cid,
                          round(list_cosine_similarity(e, cvec), 6) AS sim
                        FROM v, cent),
             assigned AS (SELECT vec_id, cid AS cluster FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cid) AS rn
                 FROM scored) t WHERE rn <= 2),
             sizes AS (SELECT cluster, count(*) AS n FROM assigned GROUP BY 1),
             ok AS (SELECT a.vec_id, a.cluster FROM assigned a
                    JOIN sizes s ON a.cluster = s.cluster
                      AND s.n BETWEEN 2 AND 1000),
             pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                              min(a.cluster) AS cluster
                       FROM ok a JOIN ok b ON a.cluster = b.cluster
                         AND a.vec_id < b.vec_id
                       GROUP BY 1, 2)
         SELECT p.id1, p.id2, p.cluster,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35""",
    // exact-substring span dedup: 8-token window fingerprints,
    // first-occurrence by (doc_id, pos), per-doc interval-union sweep over
    // flagged starts. Parallel unnest keeps (pos, fp) aligned, as in the
    // paragraph-dedup oracle.
    "q_span_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
                  FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM d),
             w0 AS (SELECT doc_id,
                      list_transform(range(1, n - 6),
                        i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS fps
                    FROM t WHERE n >= 8),
             w AS (SELECT doc_id, unnest(fps) AS fp,
                     unnest(range(1, len(fps) + 1)) AS pos FROM w0),
             ranked AS (SELECT doc_id, pos, fp,
                          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
                        FROM w),
             flagged AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
             sweep AS (SELECT doc_id, pos,
                         max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
                       FROM flagged),
             cov AS (SELECT doc_id,
                       sum(greatest(0, pos + 8 - greatest(pos, coalesce(pe, pos)))) AS dup
                     FROM sweep GROUP BY doc_id)
         SELECT t.doc_id, t.n AS n_tokens,
                coalesce(cov.dup, 0)::BIGINT AS dup_tokens,
                round(coalesce(cov.dup, 0)::DOUBLE / greatest(t.n, 1), 6) AS dup_frac
         FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id""",
    // span removal: same flagged starts; a token survives iff the latest
    // flag start at-or-before it is more than window-1 tokens back
    "q_span_removal" ->
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
                  FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM d),
             w0 AS (SELECT doc_id,
                      list_transform(range(1, n - 6),
                        i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS fps
                    FROM t WHERE n >= 8),
             w AS (SELECT doc_id, unnest(fps) AS fp,
                     unnest(range(1, len(fps) + 1)) AS pos FROM w0),
             ranked AS (SELECT doc_id, pos, fp,
                          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
                        FROM w),
             flagged AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
             tok AS (SELECT doc_id, unnest(toks) AS tok,
                       unnest(range(1, len(toks) + 1)) AS pos FROM d),
             marked AS (SELECT tk.doc_id, tk.pos, tk.tok,
                          max(CASE WHEN f.pos IS NOT NULL THEN tk.pos END)
                            OVER (PARTITION BY tk.doc_id ORDER BY tk.pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lastf
                        FROM tok tk LEFT JOIN flagged f
                          ON tk.doc_id = f.doc_id AND tk.pos = f.pos)
         SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
         FROM marked
         WHERE lastf IS NULL OR pos > lastf + 7
         GROUP BY doc_id""",
    "q_text_stats" ->
      s"""SELECT doc_id,
                 len(string_split($normSql, ' '))::BIGINT AS n_tokens,
                 len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS n_bpeish,
                 round((length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?''"\\(\\)\\[\\]\\{\\}-]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1), 6) AS punct_ratio,
                 round(len(list_filter(string_split($normSql, ' '),
                     t -> list_contains(['the','and','of','to','in','a','is'], t)))::DOUBLE
                   / greatest(len(string_split($normSql, ' ')), 1), 6) AS stop_ratio
          FROM documents""",
    "q_pii_scan" ->
      """WITH t AS (
           SELECT doc_id,
                  text
                    || CASE WHEN doc_id % 7 = 0
                         THEN ' contact bob@example.com or +1 (555) 123-4567' ELSE '' END
                    || CASE WHEN doc_id % 11 = 0
                         THEN ' see https://example.com/data?x=1&y=2' ELSE '' END AS t
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9./?=&_%#:-]+')) AS BIGINT) AS n_urls,
                CAST(len(regexp_extract_all(t, '[+][0-9][0-9() -]{7,}[0-9]')) AS BIGINT) AS n_phones,
                md5(regexp_replace(regexp_replace(regexp_replace(t,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
                      'https?://[A-Za-z0-9./?=&_%#:-]+', '[URL]', 'g'),
                      '[+][0-9][0-9() -]{7,}[0-9]', '[PHONE]', 'g')) AS redacted_md5
         FROM t""",
    "q_encoding_profile" -> {
      // the corrupted form of each suffix (UTF-8 bytes re-read as
      // Latin-1), embedded as literals so DuckDB re-evaluates the SAME
      // mark/control regexes over the SAME strings the Spark plan builds
      val corrupt = Seq(
        " caf\u00C3\u00A9 d\u00C3\u00A9j\u00C3\u00A0 vu",
        " na\u00C3\u00AFve fa\u00C3\u00A7ade",
        " price 20\u00E2\u0082\u00AC \u00E2\u0080\u0093 ok",
        " Gef\u00C3\u00BChl gr\u00C3\u00B6\u00C3\u009Fer")
      val cases = corrupt.zipWithIndex
        .map { case (c, i) => s"WHEN ${i} THEN '$c'" }
        .mkString(" ")
      s"""WITH c AS (SELECT doc_id,
                       CASE CAST(doc_id % 4 AS INT) $cases END AS suf
                     FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
                len(regexp_extract_all(text || suf,
                    '${graft.ops.Encoding.MojibakePattern}')) AS mojibake_marks,
                len(regexp_extract_all(text || suf,
                    '${graft.ops.Encoding.ControlPattern}')) AS control_chars,
                'true' AS repaired_ok,
                'true' AS enc_changed
         FROM c JOIN documents USING (doc_id)"""
    },
    // NFC normalization: DuckDB's native nfc_normalize over the identical
    // decomposed suffix construction (escapes spell the SAME codepoints the
    // Spark literal carries: e+U+0301, A+U+030A, o+U+0308, katakana, U+00E9)
    "q_nfc_normalize" -> {
      val suffix = " café Ångström カタ café"
      s"""SELECT doc_id,
                nfc_normalize(substring(text, 1, 40) || '$suffix') AS nfc_text,
                CAST(length(substring(text, 1, 40) || '$suffix') AS BIGINT)
                  AS raw_chars,
                CAST(length(nfc_normalize(substring(text, 1, 40) || '$suffix'))
                  AS BIGINT) AS nfc_chars
         FROM documents WHERE text IS NOT NULL"""
    },
    "q_quality_score" ->
      s"""WITH m AS (SELECT doc_id,
                 len(string_split($normSql, ' ')) AS n_tokens,
                 (length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?''"\\(\\)\\[\\]\\{\\}-]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS punct_ratio,
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS digit_ratio,
                 len(list_filter(string_split($normSql, ' '),
                     t -> list_contains(['the','and','of','to','in','a','is'], t)))::DOUBLE
                   / greatest(len(string_split($normSql, ' ')), 1) AS stop_ratio
               FROM documents)
          SELECT doc_id, round(greatest(0.0,
                 least(n_tokens / 100.0, 1.0) * 0.4
                 + least(stop_ratio * 5.0, 1.0) * 0.2
                 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
                 + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.2), 6) AS quality
          FROM m""",
    "q_source_profile" ->
      s"""WITH m AS (SELECT source, lang,
                 len(string_split($normSql, ' ')) AS n_tokens,
                 (length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?''"\\(\\)\\[\\]\\{\\}-]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS punct_ratio,
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS digit_ratio,
                 len(list_filter(string_split($normSql, ' '),
                     t -> list_contains(['the','and','of','to','in','a','is'], t)))::DOUBLE
                   / greatest(len(string_split($normSql, ' ')), 1) AS stop_ratio
               FROM documents WHERE text IS NOT NULL),
             q AS (SELECT source, lang, n_tokens, round(greatest(0.0,
                 least(n_tokens / 100.0, 1.0) * 0.4
                 + least(stop_ratio * 5.0, 1.0) * 0.2
                 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
                 + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.2), 6) AS quality
               FROM m)
          SELECT source, lang, count(*) AS n_docs,
                 round(sum(CAST(round(quality * 1000000, 0) AS BIGINT))::DOUBLE
                       / (count(*) * 1000000), 6) AS avg_quality,
                 round(sum(n_tokens)::DOUBLE / count(*), 6) AS avg_tokens
          FROM q GROUP BY source, lang""",
    "q_langid" ->
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
              sc AS (SELECT doc_id,
                len(list_filter(t, x -> list_contains(['the','and','of','to','in','a','is'], x))) AS en,
                len(list_filter(t, x -> list_contains(['der','die','und','das','ist','ein','nicht'], x))) AS de,
                len(list_filter(t, x -> list_contains(['le','la','et','les','des','est','une'], x))) AS fr,
                len(list_filter(t, x -> list_contains(['el','los','que','y','es','una','para'], x))) AS es,
                len(list_filter(t, x -> list_contains(['de','shi','le','bu','wo','zai','you'], x))) AS zh
               FROM toks)
          SELECT doc_id, CASE
              WHEN greatest(en, de, fr, es, zh) = 0 THEN 'und'
              WHEN en = greatest(en, de, fr, es, zh) THEN 'en'
              WHEN de = greatest(en, de, fr, es, zh) THEN 'de'
              WHEN fr = greatest(en, de, fr, es, zh) THEN 'fr'
              WHEN es = greatest(en, de, fr, es, zh) THEN 'es'
              ELSE 'zh' END AS lang_pred
          FROM sc""",
    "q_fingerprint" ->
      s"SELECT doc_id, md5($normSql) AS fingerprint FROM documents",
    "q_curate_corpus" ->
      s"""WITH m AS (SELECT doc_id, $normSql AS norm,
                 len(string_split($normSql, ' ')) AS n_tokens,
                 (length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?''"\\(\\)\\[\\]\\{\\}-]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS punct_ratio,
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS digit_ratio,
                 len(list_filter(string_split($normSql, ' '),
                     t -> list_contains(['the','and','of','to','in','a','is'], t)))::DOUBLE
                   / greatest(len(string_split($normSql, ' ')), 1) AS stop_ratio,
                 string_split($normSql, ' ') AS toks
               FROM documents WHERE text IS NOT NULL),
            scored AS (SELECT doc_id, norm,
                 round(greatest(0.0,
                   least(n_tokens / 100.0, 1.0) * 0.4
                   + least(stop_ratio * 5.0, 1.0) * 0.2
                   + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
                   + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.2), 6) AS quality,
                 len(list_filter(toks, x -> list_contains(['the','and','of','to','in','a','is'], x))) AS en,
                 len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','ein','nicht'], x))) AS de,
                 len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','une'], x))) AS fr,
                 len(list_filter(toks, x -> list_contains(['el','los','que','y','es','una','para'], x))) AS es,
                 len(list_filter(toks, x -> list_contains(['de','shi','le','bu','wo','zai','you'], x))) AS zh
               FROM m),
            gated AS (SELECT doc_id, norm FROM scored
               WHERE quality >= 0.55
                 AND greatest(en, de, fr, es, zh) > 0
                 AND en = greatest(en, de, fr, es, zh)),
            keep AS (SELECT md5(norm) AS fp, min(doc_id) AS keep_id
               FROM gated GROUP BY 1)
        SELECT g.doc_id FROM gated g
        JOIN keep ON md5(g.norm) = keep.fp AND g.doc_id = keep.keep_id""",
    "q_dedup_exact" ->
      """SELECT substring(text, 1, 20) AS k, count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 HAVING count(*) > 1""",
    // paragraph dedup: same synthetic newline injection, first-occurrence
    // by (doc_id, position), reassembly via ordered string_agg
    "q_paragraph_dedup" ->
      """WITH base AS (SELECT doc_id,
                  replace(text, ' table ', chr(10) || 'table ') AS t
                FROM documents WHERE text IS NOT NULL),
            p AS (SELECT doc_id,
                    unnest(string_split(t, chr(10))) AS para,
                    unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
                  FROM base),
            keyed AS (SELECT doc_id, pos, para, md5(para) AS fp,
                        length(para) >= 1 AS ded FROM p),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY fp
                         ORDER BY doc_id, pos) AS rn FROM keyed)
         SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
         FROM ranked WHERE NOT ded OR rn = 1
         GROUP BY doc_id""",
    // Gopher rules: same signals via DuckDB list/regex functions (replace()
    // is global where Spark's regexp_replace is; '...' counts by length
    // delta over non-overlapping replace — identical semantics)
    "q_gopher_filter" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words,
                           string_split(text, chr(10)) AS lines
                    FROM documents),
              sig AS (SELECT doc_id,
                        CAST(len(words) AS BIGINT) AS n_words,
                        greatest(len(words), 1) AS nw,
                        greatest(len(lines), 1) AS nl,
                        CAST(list_sum(list_transform(words, x -> length(x)))
                             AS BIGINT) AS chars,
                        length(text) - length(replace(text, '#', '')) AS n_hash,
                        (length(text) - length(replace(text, '...', ''))) / 3
                          + length(text) - length(replace(text, '…', ''))
                          AS n_ell,
                        len(list_filter(lines, l ->
                          starts_with(l, '-') OR starts_with(l, '*')
                          OR starts_with(l, '•'))) AS n_bullet,
                        len(list_filter(lines, l ->
                          ends_with(l, '...') OR ends_with(l, '…'))) AS n_ell_line,
                        len(list_filter(words,
                          x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
                        CAST(list_contains(words, 'the') AS INT)
                          + CAST(list_contains(words, 'and') AS INT)
                          + CAST(list_contains(words, 'of') AS INT)
                          + CAST(list_contains(words, 'to') AS INT)
                          + CAST(list_contains(words, 'in') AS INT)
                          + CAST(list_contains(words, 'a') AS INT)
                          + CAST(list_contains(words, 'is') AS INT)
                          AS stopword_count
                      FROM w)
         SELECT doc_id, n_words,
                round(CAST(chars AS DOUBLE) / nw, 6) AS mean_word_chars,
                round(CAST(n_hash + n_ell AS DOUBLE) / nw, 6) AS symbol_word_ratio,
                round(CAST(n_bullet AS DOUBLE) / nl, 6) AS bullet_line_frac,
                round(CAST(n_ell_line AS DOUBLE) / nl, 6) AS ellipsis_line_frac,
                round(CAST(n_alpha AS DOUBLE) / nw, 6) AS alpha_word_frac,
                stopword_count,
                (n_words BETWEEN 40 AND 100000)
                  AND (CAST(chars AS DOUBLE) / nw BETWEEN 3.0 AND 10.0)
                  AND (CAST(n_hash + n_ell AS DOUBLE) / nw <= 0.1)
                  AND (CAST(n_bullet AS DOUBLE) / nl <= 0.9)
                  AND (CAST(n_ell_line AS DOUBLE) / nl <= 0.3)
                  AND (CAST(n_alpha AS DOUBLE) / nw >= 0.8)
                  AND (stopword_count >= 2) AS gopher_keep
         FROM sig""",
    // URL normalize: identical regexes re-evaluated by DuckDB over the
    // same synthesized URLs — scheme/host casefold, default-port strip,
    // trailing-slash trim, utm_* filter, fragment drop
    "q_url_normalize" ->
      s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents),
              p AS (SELECT doc_id, url,
                      lower(regexp_extract(url,
                        '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sch,
                      regexp_extract(url,
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS hp,
                      regexp_extract(url,
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
                      regexp_extract(url, '[?]([^#]*)', 1) AS q
                    FROM u),
              p2 AS (SELECT doc_id, sch,
                       lower(regexp_extract(hp, '^([^:]+)', 1)) AS hst,
                       regexp_extract(hp, ':([0-9]+)$$', 1) AS prt,
                       pth, q FROM p),
              p3 AS (SELECT *,
                       regexp_extract(hst, '([^.]+[.][^.]+)$$', 1) AS dom,
                       array_to_string(list_filter(string_split(q, '&'),
                         x -> x <> '' AND NOT starts_with(x, 'utm_')), '&') AS cq,
                       CASE WHEN regexp_replace(pth, '/+$$', '') = '' THEN '/'
                            ELSE regexp_replace(pth, '/+$$', '') END AS cpth
                     FROM p2)
         SELECT doc_id, sch AS url_scheme, hst AS url_host, dom AS url_domain,
                pth AS url_path,
                sch || '://' || hst
                  || CASE WHEN prt <> ''
                            AND NOT (sch = 'http' AND prt = '80')
                            AND NOT (sch = 'https' AND prt = '443')
                          THEN ':' || prt ELSE '' END
                  || cpth
                  || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS url_norm
         FROM p3""",
    // domain rollup: counts + distinct hosts + share per registered domain
    "q_domain_stats" ->
      s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents),
              h AS (SELECT lower(regexp_extract(regexp_extract(url,
                      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                      '^([^:]+)', 1)) AS hst FROM u),
              d AS (SELECT regexp_extract(hst, '([^.]+[.][^.]+)$$', 1)
                      AS url_domain, hst FROM h),
              a AS (SELECT url_domain, count(*) AS n_docs,
                      count(DISTINCT hst) AS n_hosts
                    FROM d GROUP BY url_domain)
         SELECT url_domain, n_docs, n_hosts,
                round(CAST(n_docs AS DOUBLE)
                      / (SELECT sum(n_docs) FROM a), 6) AS doc_share
         FROM a""",
    // boilerplate removal: document-frequency threshold per source group,
    // survivors reassembled in order, fully-stripped docs kept empty
    "q_boilerplate" ->
      """WITH base AS (SELECT doc_id, source, text FROM documents
                       WHERE text IS NOT NULL),
              gc AS (SELECT source, count(*) AS n_docs FROM base GROUP BY source),
              u AS (SELECT doc_id, source,
                      unnest(string_split(text, ' ')) AS unit,
                      unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
                    FROM base),
              lf AS (SELECT source, unit, count(DISTINCT doc_id) AS n
                     FROM u GROUP BY source, unit),
              keep AS (SELECT u.doc_id, u.pos, u.unit FROM u
                       JOIN lf ON u.source = lf.source AND u.unit = lf.unit
                       JOIN gc ON u.source = gc.source
                       WHERE lf.n < greatest(2, CAST(ceil(0.9 * gc.n_docs) AS BIGINT))),
              agg AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS text,
                             count(*) AS n_kept FROM keep GROUP BY doc_id),
              tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
         SELECT t.doc_id, coalesce(a.text, '') AS text,
                t.n_units, t.n_units - coalesce(a.n_kept, 0) AS n_removed
         FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id""",
    // CMS: sketch cells and min-over-rows estimates from the identical
    // row-salted md5 buckets
    "q_cms_counts" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS t
                        FROM documents WHERE text IS NOT NULL),
              ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
              pairs AS (SELECT d,
                          ('0x' || substring(md5(d || ':' || t), 1, 15))::BIGINT
                            % 64 AS bucket
                        FROM toks, ds),
              sk AS (SELECT d, bucket, count(*) AS cnt
                     FROM pairs GROUP BY d, bucket),
              probes AS (SELECT unnest(['table', 'value', 'spark', 'row',
                           'key', 'data', 'vector', 'zzz_absent']) AS word),
              pe AS (SELECT word, d,
                       ('0x' || substring(md5(d || ':' || word), 1, 15))::BIGINT
                         % 64 AS bucket
                     FROM probes, ds),
              est AS (SELECT word, min(coalesce(cnt, 0)) AS cms_count
                      FROM pe LEFT JOIN sk USING (d, bucket) GROUP BY word)
         SELECT word, CAST(cms_count AS BIGINT) AS cms_count FROM est""",
    "q_streaming_cms" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS t
                        FROM documents WHERE text IS NOT NULL),
              ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
              pairs AS (SELECT d,
                          ('0x' || substring(md5(d || ':' || t), 1, 15))::BIGINT
                            % 64 AS bucket
                        FROM toks, ds)
         SELECT CAST(d AS BIGINT) AS cms_row, CAST(bucket AS BIGINT) AS cms_bucket,
                CAST(count(*) AS BIGINT) AS cnt
         FROM pairs GROUP BY d, bucket""",
    "q_streaming_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events""",
    "q_streaming_hll" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS t
                        FROM documents WHERE text IS NOT NULL),
              h AS (SELECT ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
                    FROM toks)
         SELECT CAST(h % 64 AS BIGINT) AS hll_bucket,
                CAST(max(CASE WHEN h // 64 = 0 THEN 55
                              ELSE 54 - length(bin(h // 64)) + 1 END)
                     AS BIGINT) AS hll_register
         FROM h GROUP BY 1""",
    // column profile: per-column aggregates unioned
    "q_profile" ->
      """SELECT 'p_partkey' AS column, count(*) AS n_rows,
                count(*) - count(p_partkey) AS n_null,
                count(DISTINCT p_partkey) AS n_distinct,
                CAST(min(p_partkey) AS VARCHAR) AS min_value,
                CAST(max(p_partkey) AS VARCHAR) AS max_value
         FROM part
         UNION ALL
         SELECT 'p_brand', count(*), count(*) - count(p_brand),
                count(DISTINCT p_brand),
                CAST(min(p_brand) AS VARCHAR), CAST(max(p_brand) AS VARCHAR)
         FROM part
         UNION ALL
         SELECT 'p_type', count(*), count(*) - count(p_type),
                count(DISTINCT p_type),
                CAST(min(p_type) AS VARCHAR), CAST(max(p_type) AS VARCHAR)
         FROM part
         UNION ALL
         SELECT 'p_size', count(*), count(*) - count(p_size),
                count(DISTINCT p_size),
                CAST(min(p_size) AS VARCHAR), CAST(max(p_size) AS VARCHAR)
         FROM part""",
    // JSON extraction: DuckDB json_valid + ->> path over the same strings
    "q_json_extract" ->
      """WITH e AS (SELECT event_type,
                      CASE WHEN event_id % 97 = 0
                           THEN substring(props, 1, length(props) - 1)
                           ELSE props END AS raw
                    FROM events),
              p AS (SELECT event_type,
                      CASE WHEN raw IS NOT NULL AND json_valid(raw)
                           THEN CAST(raw ->> '$.k' AS INT) END AS k,
                      raw IS NULL OR NOT json_valid(raw) AS bad
                    FROM e)
         SELECT event_type, count(*) AS n,
                count(*) FILTER (WHERE bad) AS n_malformed,
                CAST(sum(k) AS BIGINT) AS sum_k
         FROM p GROUP BY event_type""",
    // PSI: identical bucket arithmetic + smoothing + ln terms, decimal sum
    "q_psi" ->
      """WITH a AS (SELECT l_quantity AS v FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL),
              b AS (SELECT l_quantity AS v FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL),
              ha AS (SELECT CAST(least(greatest(
                         floor((v - 1.0) * 10 / 50.0), 0), 9) AS BIGINT)
                         AS bucket, count(*) AS ca
                     FROM a GROUP BY 1),
              hb AS (SELECT CAST(least(greatest(
                         floor((v - 1.0) * 10 / 50.0), 0), 9) AS BIGINT)
                         AS bucket, count(*) AS cb
                     FROM b GROUP BY 1),
              sp AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(10)),
              j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                    FROM sp LEFT JOIN ha ON ha.bucket = sp.bucket
                            LEFT JOIN hb ON hb.bucket = sp.bucket),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT CAST(
                      ((ca + 0.5) / (CAST(na AS DOUBLE) + 5.0)
                        - (cb + 0.5) / (CAST(nb AS DOUBLE) + 5.0))
                      * ln(((ca + 0.5) / (CAST(na AS DOUBLE) + 5.0))
                           / ((cb + 0.5) / (CAST(nb AS DOUBLE) + 5.0)))
                      AS DECIMAL(28, 12)) AS term, na, nb
                    FROM j, n)
         SELECT max(na) AS n_a, max(nb) AS n_b,
                round(CAST(sum(term) AS DOUBLE), 6) AS psi
         FROM t""",
    // chi-square: identical per-cell expectation arithmetic, decimal sum
    "q_chi2" ->
      """WITH a AS (SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                      AS c FROM orders WHERE o_orderkey % 2 = 0),
              b AS (SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                      AS c FROM orders WHERE o_orderkey % 2 = 1),
              ca AS (SELECT c, count(*) AS ca FROM a GROUP BY c),
              cb AS (SELECT c, count(*) AS cb FROM b GROUP BY c),
              j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                    FROM ca FULL OUTER JOIN cb USING (c)),
              tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS k
                      FROM j),
              t AS (SELECT na, nb, k,
                      CAST((CAST(ca AS DOUBLE)
                             - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           * (CAST(ca AS DOUBLE)
                             - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           / (CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           AS DECIMAL(28, 12))
                      + CAST((CAST(cb AS DOUBLE)
                             - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           * (CAST(cb AS DOUBLE)
                             - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           / (CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           AS DECIMAL(28, 12)) AS term
                    FROM j, tot)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                CAST(max(k) AS INT) AS n_categories,
                round(CAST(sum(term) AS DOUBLE), 6) AS chi2
         FROM t""",
    // Wasserstein-1: identical scaled-integer axis, running counts and
    // successor gaps over the union value axis, HUGEINT area sum mirrors
    // the engine's exact decimal sum, identical double division shape
    "q_wasserstein" ->
      """WITH a AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL),
              b AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL),
              u AS (SELECT v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM u GROUP BY v),
              r AS (SELECT v,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2,
                      lead(v) OVER (ORDER BY v) AS nv
                    FROM c),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT abs(CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                               - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT))
                            * CAST(coalesce(nv - v, 0) AS HUGEINT) AS term,
                           na, nb
                    FROM r, n)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(sum(term) AS DOUBLE)
                      / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)
                         * 100.0), 6) AS w1
         FROM t""",
    // Cramér–von Mises: identical running-count axis, integer
    // cnt·(r1·m − r2·n)² terms, identical fixed-shape double division
    "q_cvm_2sample" ->
      """WITH a AS (SELECT CAST(round(l_quantity * 1) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL),
              b AS (SELECT CAST(round(l_quantity * 1) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL),
              u AS (SELECT v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM u GROUP BY v),
              r AS (SELECT v, c1, c2,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2
                    FROM c),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT CAST(c1 + c2 AS HUGEINT)
                            * ((CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                                - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT))
                               * (CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                                  - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT)))
                           AS term, na, nb
                    FROM r, n)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(sum(term) AS DOUBLE)
                      / (CAST(max(na) + max(nb) AS DOUBLE)
                         * CAST(max(na) + max(nb) AS DOUBLE)
                         * CAST(max(na) AS DOUBLE)
                         * CAST(max(nb) AS DOUBLE)), 6) AS cvm_t
         FROM t""",
    // mutual information: identical joint/marginal counts, identical
    // per-cell double ln terms decimal-cast before the sum
    "q_mutual_info" ->
      """WITH j AS (SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '<null>')
                      AS x,
                      coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                      AS y,
                      count(*) AS cxy
                    FROM orders GROUP BY 1, 2),
              mx AS (SELECT x, sum(cxy) AS cx FROM j GROUP BY x),
              my AS (SELECT y, sum(cxy) AS cy FROM j GROUP BY y),
              tot AS (SELECT sum(cxy) AS n, count(DISTINCT x) AS kx,
                             count(DISTINCT y) AS ky FROM j),
              t AS (SELECT n, kx, ky,
                      CAST(CAST(cxy AS DOUBLE)
                           * ln((CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE))
                                / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                           AS DECIMAL(28, 12)) AS term
                    FROM j JOIN mx USING (x) JOIN my USING (y), tot)
         SELECT CAST(max(n) AS BIGINT) AS n,
                CAST(max(kx) AS INT) AS n_x_categories,
                CAST(max(ky) AS INT) AS n_y_categories,
                round(CAST(sum(term) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
                  AS mi_nats
         FROM t""",
    // epoch shuffle: row_number over the identical 52-bit md5-lattice
    // dyadic key with the id tie-break
    "q_epoch_shuffle" ->
      """SELECT doc_id,
                CAST(row_number() OVER (
                  ORDER BY (('0x' || substring(md5(doc_id::VARCHAR || ':gate:3'), 1, 13))::BIGINT
                            + 0.5) / 4503599627370496.0, doc_id) AS BIGINT)
                  AS shuffle_rank
         FROM documents WHERE doc_id IS NOT NULL""",
    // diversity: identical token stream, decimal-cast entropy terms,
    // exact distinct-trigram counts
    "q_diversity" ->
      s"""WITH toks AS (SELECT string_split($normSql, ' ') AS t
                        FROM documents WHERE text IS NOT NULL),
              uni AS (SELECT unnest(t) AS w FROM toks),
              uc AS (SELECT w, count(*) AS c FROM uni
                     WHERE w <> '' GROUP BY w),
              tot AS (SELECT sum(c) AS nt, count(*) AS vs FROM uc),
              ent AS (SELECT max(nt) AS nt, max(vs) AS vs,
                        sum(CAST(-(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 * ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 AS DECIMAL(28, 18))) AS e
                      FROM uc, tot),
              gr AS (SELECT unnest(list_filter(
                       list_transform(range(0, greatest(len(t)-3, 0)+1),
                                      i -> array_to_string(t[i+1:i+3], ' ')),
                       g -> len(string_split(g, ' ')) = 3)) AS gram
                     FROM toks),
              gc AS (SELECT count(*) AS ng, count(DISTINCT gram) AS nd FROM gr)
         SELECT CAST(nt AS BIGINT) AS n_tokens, CAST(vs AS BIGINT)
                  AS vocab_size,
                round(CAST(e AS DOUBLE), 6) AS token_entropy,
                CAST(ng AS BIGINT) AS n_ngrams,
                CAST(nd AS BIGINT) AS n_distinct_ngrams,
                round(CASE WHEN ng > 0
                           THEN CAST(nd AS DOUBLE) / CAST(ng AS DOUBLE)
                      END, 6) AS distinct_ngram_ratio
         FROM ent, gc""",
    // per-source diversity: identical grouped token stream, per-group
    // decimal-cast entropy terms, exact distinct-trigram counts
    "q_diversity_by_source" ->
      s"""WITH toks AS (SELECT coalesce(CAST(source AS VARCHAR), '<null>')
                          AS g, string_split($normSql, ' ') AS t
                        FROM documents WHERE text IS NOT NULL),
              uni AS (SELECT g, unnest(t) AS w FROM toks),
              uc AS (SELECT g, w, count(*) AS c FROM uni
                     WHERE w <> '' GROUP BY g, w),
              tot AS (SELECT g, sum(c) AS nt, count(*) AS vs
                      FROM uc GROUP BY g),
              ent AS (SELECT uc.g, max(nt) AS nt, max(vs) AS vs,
                        sum(CAST(-(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 * ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 AS DECIMAL(28, 18))) AS e
                      FROM uc JOIN tot ON uc.g = tot.g GROUP BY uc.g),
              gr AS (SELECT g, unnest(list_filter(
                       list_transform(range(0, greatest(len(t)-3, 0)+1),
                                      i -> array_to_string(t[i+1:i+3], ' ')),
                       x -> len(string_split(x, ' ')) = 3)) AS gram
                     FROM toks),
              gc AS (SELECT g, count(*) AS ng, count(DISTINCT gram) AS nd
                     FROM gr GROUP BY g)
         SELECT ent.g AS source, CAST(nt AS BIGINT) AS n_tokens,
                CAST(vs AS BIGINT) AS vocab_size,
                round(CAST(e AS DOUBLE), 6) AS token_entropy,
                CAST(coalesce(ng, 0) AS BIGINT) AS n_ngrams,
                CAST(coalesce(nd, 0) AS BIGINT) AS n_distinct_ngrams,
                round(CASE WHEN coalesce(ng, 0) > 0
                           THEN CAST(nd AS DOUBLE) / CAST(ng AS DOUBLE)
                      END, 6) AS distinct_ngram_ratio
         FROM ent LEFT JOIN gc ON ent.g = gc.g""",
    // source mix: identical counts, pow terms decimal-cast before the
    // sum, identical division shapes
    "q_source_mix" ->
      """WITH c AS (SELECT coalesce(CAST(source AS VARCHAR), '<null>')
                      AS source, count(*) AS n_docs
                    FROM documents GROUP BY 1),
              t AS (SELECT sum(n_docs) AS n,
                      sum(CAST(pow(CAST(n_docs AS DOUBLE), 0.7)
                          AS DECIMAL(28, 12))) AS pt
                    FROM c)
         SELECT source, n_docs,
                round(pow(CAST(n_docs AS DOUBLE), 0.7)
                      / CAST(pt AS DOUBLE), 6) AS weight,
                round(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
                round((pow(CAST(n_docs AS DOUBLE), 0.7) / CAST(pt AS DOUBLE))
                      / (CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS boost
         FROM c, t""",
    // volume anomalies: identical daily counts through the identical
    // doubled-order-statistic MAD arithmetic (k=3.5 → kQ=51891)
    "q_volume_anomaly" ->
      """WITH c AS (SELECT date_trunc('day', ts) AS bucket_start,
                      count(*) AS n_events
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              v AS (SELECT bucket_start, n_events,
                      n_events::HUGEINT AS v FROM c),
              n AS (SELECT count(*) AS n FROM v),
              ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS r
                         FROM v),
              m2 AS (SELECT
                       (SELECT v FROM ranked, n WHERE r = (n + 1) // 2)
                       + (SELECT v FROM ranked, n WHERE r = (n + 2) // 2)
                       AS m2),
              devs AS (SELECT bucket_start, n_events, abs(2 * v - m2) AS dev
                       FROM v, m2),
              dr AS (SELECT dev, row_number() OVER (ORDER BY dev) AS r
                     FROM devs),
              d2 AS (SELECT
                       (SELECT dev FROM dr, n WHERE r = (n + 1) // 2)
                       + (SELECT dev FROM dr, n WHERE r = (n + 2) // 2)
                       AS d2)
         SELECT bucket_start, n_events,
                (2 * dev * 10000 > 51891 * d2) AS is_outlier
         FROM devs, d2""",
    // quantile shift: identical running counts, integer cross-product
    // rank selection, identical double division
    "q_quantile_shift" ->
      """WITH a AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL),
              b AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL),
              u AS (SELECT v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM u GROUP BY v),
              r AS (SELECT v,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2
                    FROM c),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pc),
              sel AS (SELECT pc,
                        min(CASE WHEN r1 * 100 >= na * pc THEN v END) AS qa,
                        min(CASE WHEN r2 * 100 >= nb * pc THEN v END) AS qb
                      FROM r, n, p GROUP BY pc)
         SELECT CAST(pc AS INT) AS percent,
                CAST(qa AS DOUBLE) / 100.0 AS q_a,
                CAST(qb AS DOUBLE) / 100.0 AS q_b,
                CAST(qb - qa AS DOUBLE) / 100.0 AS shift
         FROM sel""",
    // per-group W1: identical per-key running counts, successor gaps,
    // HUGEINT area sums, identical double division
    "q_w1_by_group" ->
      """WITH a AS (SELECT l_returnflag AS k,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0
                      AND l_extendedprice IS NOT NULL
                      AND l_returnflag IS NOT NULL),
              b AS (SELECT l_returnflag AS k,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1
                      AND l_extendedprice IS NOT NULL
                      AND l_returnflag IS NOT NULL),
              u AS (SELECT k, v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT k, v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT k, v, sum(w1) AS c1, sum(w2) AS c2
                    FROM u GROUP BY k, v),
              r AS (SELECT k, v,
                      sum(c1) OVER (PARTITION BY k ORDER BY v) AS r1,
                      sum(c2) OVER (PARTITION BY k ORDER BY v) AS r2,
                      sum(c1) OVER (PARTITION BY k) AS n,
                      sum(c2) OVER (PARTITION BY k) AS m,
                      lead(v) OVER (PARTITION BY k ORDER BY v) AS nv
                    FROM c),
              t AS (SELECT k, n, m,
                      abs(CAST(r1 AS HUGEINT) * CAST(m AS HUGEINT)
                          - CAST(r2 AS HUGEINT) * CAST(n AS HUGEINT))
                       * CAST(coalesce(nv - v, 0) AS HUGEINT) AS term
                    FROM r),
              g AS (SELECT k, max(n) AS na, max(m) AS nb,
                      sum(term) AS area
                    FROM t GROUP BY k)
         SELECT k AS l_returnflag, CAST(na AS BIGINT) AS n_a,
                CAST(nb AS BIGINT) AS n_b,
                round(CASE WHEN na > 0 AND nb > 0
                           THEN CAST(area AS DOUBLE)
                                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                                   * 100.0)
                      END, 6) AS w1
         FROM g""",
    // blocklist: identical normalized token stream, list_contains hits
    "q_blocklist" ->
      s"""WITH d AS (SELECT doc_id,
                       len(list_filter(string_split($normSql, ' '),
                         t -> list_contains(['network', 'data', 'system'], t)))
                         AS h
                     FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, CAST(h AS BIGINT) AS n_hits, h >= 1 AS flagged
         FROM d""",
    // Zipf slope: identical top-K vocabulary ranks, decimal-cast ln
    // terms, identical OLS double shape
    "q_zipf" ->
      s"""WITH toks AS (SELECT string_split($normSql, ' ') AS t
                        FROM documents WHERE text IS NOT NULL),
              uni AS (SELECT unnest(t) AS w FROM toks),
              uc AS (SELECT w, count(*) AS c FROM uni
                     WHERE w <> '' GROUP BY w),
              top AS (SELECT w, c FROM uc
                      ORDER BY c DESC, w ASC LIMIT 10000),
              rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC)
                       AS rank
                     FROM top),
              s AS (SELECT count(*) AS n,
                      sum(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sx,
                      sum(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sy,
                      sum(CAST(ln(CAST(rank AS DOUBLE))
                               * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sxy,
                      sum(CAST(ln(CAST(rank AS DOUBLE))
                               * ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sxx
                    FROM rk)
         SELECT CAST(n AS BIGINT) AS n_terms,
                round(CASE WHEN n >= 2 THEN
                        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      END, 6) AS zipf_slope
         FROM s""",
    // per-group KS: identical per-key running counts, HUGEINT D
    // numerators, identical per-key double division
    "q_ks_by_group" ->
      """WITH a AS (SELECT l_returnflag AS k,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0
                      AND l_extendedprice IS NOT NULL
                      AND l_returnflag IS NOT NULL),
              b AS (SELECT l_returnflag AS k,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1
                      AND l_extendedprice IS NOT NULL
                      AND l_returnflag IS NOT NULL),
              u AS (SELECT k, v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT k, v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT k, v, sum(w1) AS c1, sum(w2) AS c2
                    FROM u GROUP BY k, v),
              r AS (SELECT k,
                      sum(c1) OVER (PARTITION BY k ORDER BY v) AS r1,
                      sum(c2) OVER (PARTITION BY k ORDER BY v) AS r2,
                      sum(c1) OVER (PARTITION BY k) AS n,
                      sum(c2) OVER (PARTITION BY k) AS m
                    FROM c),
              g AS (SELECT k, max(n) AS na, max(m) AS nb,
                      max(abs(CAST(r1 AS HUGEINT) * CAST(m AS HUGEINT)
                              - CAST(r2 AS HUGEINT) * CAST(n AS HUGEINT)))
                        AS num
                    FROM r GROUP BY k)
         SELECT k AS l_returnflag, CAST(na AS BIGINT) AS n_a,
                CAST(nb AS BIGINT) AS n_b,
                round(CASE WHEN na > 0 AND nb > 0
                           THEN CAST(num AS DOUBLE)
                                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                      END, 6) AS ks_d
         FROM g""",
    // correlation matrix: the q_correlation per-pair recipe unioned over
    // all six pairs, pairwise-complete filters
    "q_corr_matrix" -> {
      val cols = Seq(
        ("l_quantity", 1L), ("l_extendedprice", 100L),
        ("l_discount", 100L), ("l_tax", 100L))
      val pairSql = for {
        i <- cols.indices
        j <- cols.indices if j > i
      } yield {
        val (cx, sx) = cols(i); val (cy, sy) = cols(j)
        s"""SELECT '$cx' AS col_x, '$cy' AS col_y, CAST(n AS BIGINT) AS n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                 AS pearson_r
             FROM (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
                     sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
                     sum(x * y) AS sxy
                   FROM (SELECT CAST(round($cx * $sx) AS HUGEINT) AS x,
                           CAST(round($cy * $sy) AS HUGEINT) AS y
                         FROM lineitem
                         WHERE $cx IS NOT NULL AND $cy IS NOT NULL) b) s"""
      }
      pairSql.mkString("", "\n         UNION ALL\n         ", "")
    },
    // exact AUC: identical class counts per distinct score, HUGEINT
    // 2U sum, identical (2·n⁺)·n⁻ double division shape
    "q_auc" ->
      """WITH d AS (SELECT CAST(round(n_chars * 1) AS BIGINT) AS v,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS w1,
                      CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS w2
                    FROM documents WHERE n_chars IS NOT NULL),
              c AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM d GROUP BY v),
              r AS (SELECT c1, c2,
                      sum(c2) OVER (ORDER BY v) AS r2
                    FROM c),
              n AS (SELECT sum(c1) AS np, sum(c2) AS nn FROM c),
              t AS (SELECT CAST(c1 AS HUGEINT)
                            * CAST(2 * r2 - c2 AS HUGEINT) AS term, np, nn
                    FROM r, n)
         SELECT CAST(max(np) AS BIGINT) AS n_pos,
                CAST(max(nn) AS BIGINT) AS n_neg,
                round(CAST(sum(term) AS DOUBLE)
                      / (2.0 * CAST(max(np) AS DOUBLE)
                         * CAST(max(nn) AS DOUBLE)), 6) AS auc
         FROM t""",
    // per-group top-k: identical counts, identical (cnt desc, value asc)
    // total order
    "q_group_topk" ->
      """WITH c AS (SELECT o_orderstatus,
                      coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                        AS value,
                      count(*) AS cnt
                    FROM orders GROUP BY 1, 2),
              r AS (SELECT o_orderstatus, value, cnt,
                      row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY cnt DESC, value ASC)
                        AS rank
                    FROM c)
         SELECT o_orderstatus, value, CAST(cnt AS BIGINT) AS cnt,
                CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 3""",
    // per-domain cap: single-window spelling of the salted two-phase plan
    "q_domain_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY n_chars DESC, doc_id ASC)
                        AS keep_rank
                    FROM documents)
         SELECT doc_id, source, n_chars,
                CAST(keep_rank AS BIGINT) AS keep_rank
         FROM r WHERE keep_rank <= 5""",
    // BPE round-1 pairs: per-char split + zipped-index pair explode,
    // weighted by distinct-word counts, same total order
    "q_bpe_pairs" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS w
                        FROM documents WHERE text IS NOT NULL),
              wc AS (SELECT w, count(*) AS cnt FROM toks
                     WHERE w <> '' GROUP BY w),
              sy AS (SELECT string_split(w, '') AS l, cnt FROM wc
                     WHERE len(w) >= 2),
              ix AS (SELECT l, cnt, unnest(range(1, len(l))) AS i FROM sy),
              pr AS (SELECT l[i] AS left_sym, l[i + 1] AS right_sym,
                       sum(cnt) AS pair_count
                     FROM ix GROUP BY 1, 2)
         SELECT left_sym, right_sym, CAST(pair_count AS BIGINT) AS pair_count
         FROM pr
         ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20""",
    // histogram: identical bucket arithmetic
    "q_histogram" ->
      """SELECT CAST(least(greatest(
                  floor((l_quantity - 1.0) * 10 / 50.0), 0), 9) AS BIGINT)
                  AS bucket,
                count(*) AS cnt
         FROM lineitem WHERE l_quantity IS NOT NULL
         GROUP BY 1""",
    // streaming histogram: the batch bucket rebuild over events.value
    "q_streaming_histogram" ->
      """SELECT CAST(least(greatest(
                  floor((value - 0.0) * 20 / 500.0), 0), 19) AS BIGINT)
                  AS bucket,
                count(*) AS cnt
         FROM events WHERE value IS NOT NULL
         GROUP BY 1""",
    // correlation: the same exact-moment formula in HUGEINT
    "q_correlation" ->
      """WITH b AS (SELECT CAST(round(l_extendedprice * 100) AS HUGEINT) AS x,
                      CAST(round(l_quantity) AS HUGEINT) AS y
                    FROM lineitem
                    WHERE l_extendedprice IS NOT NULL
                      AND l_quantity IS NOT NULL),
              s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
                      sum(y * y) AS syy, sum(x * y) AS sxy
                    FROM b)
         SELECT CAST(n AS BIGINT) AS n,
                round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                  AS pearson_r
         FROM s""",
    // grouped moments: exact HUGEINT power sums, then the identical fixed
    // double expression shape as Stats.momentsExact (left-associative
    // products — IEEE ops on identical inputs give identical doubles)
    "q_moments" ->
      """WITH e AS (SELECT l_returnflag,
                      CAST(round(l_quantity * 1) AS HUGEINT) AS ev
                    FROM lineitem WHERE l_quantity IS NOT NULL),
              a AS (SELECT l_returnflag, count(*) AS nl,
                      sum(ev) AS rs1, sum(ev * ev) AS rs2,
                      sum(ev * ev * ev) AS rs3, sum(ev * ev * ev * ev) AS rs4
                    FROM e GROUP BY 1),
              d AS (SELECT l_returnflag, nl,
                      CAST(nl AS DOUBLE) AS n, CAST(rs1 AS DOUBLE) AS s1,
                      CAST(rs2 AS DOUBLE) AS s2, CAST(rs3 AS DOUBLE) AS s3,
                      CAST(rs4 AS DOUBLE) AS s4
                    FROM a),
              m AS (SELECT l_returnflag, nl, n, s1,
                      (n * s2 - s1 * s1) / (n * n) AS m2,
                      (n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)
                        / (n * n * n) AS m3,
                      (n * n * n * s4 - 4.0 * n * n * s1 * s3
                         + 6.0 * n * s1 * s1 * s2 - 3.0 * s1 * s1 * s1 * s1)
                        / (n * n * n * n) AS m4
                    FROM d)
         SELECT l_returnflag, nl AS n,
                round(s1 / n / 1.0, 6) AS mean,
                round(m2 / (1.0 * 1.0), 6) AS variance_pop,
                round(CASE WHEN nl >= 2 AND m2 > 0.0
                           THEN m3 / (m2 * sqrt(m2)) END, 6) AS skewness,
                round(CASE WHEN nl >= 2 AND m2 > 0.0
                           THEN m4 / (m2 * m2) - 3.0 END, 6) AS kurtosis_excess
         FROM m""",
    // group percentiles: same discrete-rank selection per group
    "q_group_percentile" ->
      """WITH c AS (SELECT l_returnflag AS g, l_quantity AS v, count(*) AS cnt
                    FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
              c2 AS (SELECT g, v,
                       sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
                       sum(cnt) OVER (PARTITION BY g) AS total
                     FROM c)
         SELECT g AS l_returnflag,
                min(CASE WHEN cum * 100 >= total * 25 THEN v END) AS p25,
                min(CASE WHEN cum * 100 >= total * 50 THEN v END) AS p50,
                min(CASE WHEN cum * 100 >= total * 90 THEN v END) AS p90
         FROM c2 GROUP BY g""",
    // FK orphans: the NOT-EXISTS the anti join must reproduce
    "q_fk_orphans" ->
      """WITH p AS (SELECT DISTINCT o_orderkey FROM orders
                    WHERE o_orderkey % 3 <> 0),
              c AS (SELECT l_orderkey FROM lineitem
                    WHERE l_orderkey IS NOT NULL),
              o AS (SELECT c.l_orderkey FROM c
                    LEFT JOIN p ON c.l_orderkey = p.o_orderkey
                    WHERE p.o_orderkey IS NULL)
         SELECT (SELECT count(*) FROM c) AS n_rows,
                count(*) AS n_orphans,
                count(DISTINCT l_orderkey) AS n_orphan_keys
         FROM o""",
    // monotonicity: identical per-key lag recomputation
    "q_monotonic" ->
      """WITH o AS (SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY event_id, ts) AS prev
                    FROM events
                    WHERE event_id IS NOT NULL AND ts IS NOT NULL)
         SELECT user_id, count(prev) AS n_pairs,
                count(*) FILTER (WHERE ts < prev) AS n_violations
         FROM o GROUP BY user_id""",
    // outliers: the same integer-scaled variance comparison in HUGEINT
    "q_outliers" ->
      """WITH b AS (SELECT l_extendedprice AS x,
                      CAST(round(l_extendedprice * 100) AS HUGEINT) AS v
                    FROM lineitem WHERE l_extendedprice IS NOT NULL),
              s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      sum(v) AS sv, sum(v * v) AS q FROM b),
              f AS (SELECT x,
                      (v * n - sv) * (v * n - sv) > 4 * (n * q - sv * sv)
                        AS is_out
                    FROM b, s)
         SELECT count(*) AS n_rows,
                count(*) FILTER (WHERE is_out) AS n_outliers,
                round(max(CASE WHEN is_out THEN x END), 6) AS max_outlier
         FROM f""",
    // Bloom: set-bit table + all-bits-present verdicts from identical
    // salted md5 bits
    "q_bloom_filter" ->
      """WITH vals AS (SELECT CAST(doc_id AS VARCHAR) AS v FROM documents
                       WHERE doc_id % 2 = 0),
              ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
              bits AS (SELECT DISTINCT
                         ('0x' || substring(md5('b' || d || ':' || v), 1, 15))::BIGINT
                           % 4096 AS bit
                       FROM vals, ds),
              probes AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v
                         FROM documents),
              pb AS (SELECT doc_id,
                       ('0x' || substring(md5('b' || d || ':' || v), 1, 15))::BIGINT
                         % 4096 AS bit
                     FROM probes, ds),
              r AS (SELECT doc_id,
                      min(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) AS hit
                    FROM pb LEFT JOIN bits ON pb.bit = bits.bit
                    GROUP BY doc_id)
         SELECT doc_id, hit = 1 AS might_contain FROM r""",
    // HLL: exact register rebuild (bin()-length rank) + the same estimator
    // arithmetic; ln() is the one cross-engine-libm op — round 6 absorbs it
    "q_hll_uniques" ->
      s"""WITH ids AS (SELECT CAST(doc_id AS VARCHAR) AS v FROM documents),
              toks AS (SELECT unnest(string_split($normSql, ' ')) AS v
                       FROM documents WHERE text IS NOT NULL),
              h1 AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM ids),
              r1 AS (SELECT h % 64 AS b,
                       max(CASE WHEN h // 64 = 0 THEN 55
                                ELSE 54 - length(bin(h // 64)) + 1 END) AS r
                     FROM h1 GROUP BY 1),
              e1 AS (SELECT count(*) AS n_hit, 64 - count(*) AS nz,
                       CAST(sum(CAST(pow(2, 54 - r) AS DECIMAL(38, 0)))
                            AS DOUBLE) AS hs
                     FROM r1),
              h2 AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM toks),
              r2 AS (SELECT h % 64 AS b,
                       max(CASE WHEN h // 64 = 0 THEN 55
                                ELSE 54 - length(bin(h // 64)) + 1 END) AS r
                     FROM h2 GROUP BY 1),
              e2 AS (SELECT count(*) AS n_hit, 64 - count(*) AS nz,
                       CAST(sum(CAST(pow(2, 54 - r) AS DECIMAL(38, 0)))
                            AS DOUBLE) AS hs
                     FROM r2),
              u AS (SELECT 'doc_ids' AS stream, * FROM e1
                    UNION ALL SELECT 'tokens', * FROM e2),
              est AS (SELECT stream, n_hit, nz,
                        (((0.7213 / (1 + 1.079 / 64.0)) * 64.0) * 64.0)
                          * pow(2, 54)
                          / (hs + CAST(64 - n_hit AS DOUBLE) * pow(2, 54))
                          AS raw
                      FROM u)
         SELECT stream, n_hit, CAST(nz AS BIGINT) AS n_zero_buckets,
                round(CASE WHEN raw <= 160.0 AND nz > 0
                           THEN 64.0 * ln(64.0 / nz) ELSE raw END, 6)
                  AS estimate
         FROM est""",
    "q_ngram_jaccard" -> jaccardSql,
    // transitive closure over the SAME pair set, min reachable id per vertex
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ($jaccardSql)),
              edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                        UNION SELECT id2, id1 FROM pairs),
              reach AS (SELECT a AS id, b AS r FROM edges
                        UNION
                        SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
         SELECT id AS doc_id, least(id, min(r)) AS cluster_id
         FROM reach GROUP BY id""",
    "q_cluster_reps" ->
      s"""WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ($jaccardSql)),
              edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                        UNION SELECT id2, id1 FROM pairs),
              reach AS (SELECT a AS id, b AS r FROM edges
                        UNION
                        SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
              cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
                     FROM reach GROUP BY id),
              m AS (SELECT cl.cluster_id, cl.doc_id,
                      CAST(length(d.text) AS BIGINT) AS pref
                    FROM cl JOIN documents d USING (doc_id)),
              r AS (SELECT cluster_id, doc_id, pref,
                      row_number() OVER (PARTITION BY cluster_id
                                         ORDER BY pref DESC, doc_id ASC) AS rn,
                      count(*) OVER (PARTITION BY cluster_id) AS n_members
                    FROM m)
         SELECT cluster_id, doc_id AS rep_id, n_members, pref AS rep_pref
         FROM r WHERE rn = 1""",
    "q_events_profile" ->
      """SELECT cast(time_bucket(INTERVAL 1 HOUR, ts) AS VARCHAR) AS window_start,
                event_type, count(*) AS n_events,
                round(avg(CAST(value AS DECIMAL(38,9))), 6) AS avg_value,
                count(*) FILTER (WHERE value IS NULL) AS n_null
         FROM events GROUP BY 1, 2""",
    "q_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
              p AS (SELECT user_id, ts, event_id, value,
                      row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'purchase'),
              pd AS (SELECT user_id, ts, event_id, value FROM p WHERE rn = 1)
         SELECT c.event_id, c.user_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                strftime(pd.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                pd.event_id AS purchase_id,
                round(pd.value, 6) AS purchase_value
         FROM c ASOF LEFT JOIN pd
           ON c.user_id = pd.user_id AND c.ts >= pd.ts""",
    // trailing window: identical microsecond coordinate, RANGE frame,
    // exact decimal sums descaled in the identical double shape
    "q_trailing_window" ->
      """WITH e AS (SELECT event_id, user_id, ts,
                      epoch_us(ts) AS c,
                      CAST(round(value * 1000000) AS HUGEINT) AS sv
                    FROM events WHERE ts IS NOT NULL),
              w AS (SELECT event_id, user_id, ts,
                      count(*) OVER win AS tc,
                      coalesce(sum(sv) OVER win, 0) AS tsum
                    FROM e
                    WINDOW win AS (PARTITION BY user_id ORDER BY c
                                   RANGE BETWEEN 3600000000 PRECEDING
                                   AND CURRENT ROW))
         SELECT event_id, user_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                CAST(tc AS BIGINT) AS trailing_count,
                round(CAST(tsum AS DOUBLE) / 1000000.0, 6) AS trailing_sum
         FROM w""",
    "q_asof_forward" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
              p AS (SELECT user_id, ts, event_id, value,
                      row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'purchase'),
              pd AS (SELECT user_id, ts, event_id, value FROM p WHERE rn = 1)
         SELECT c.event_id, c.user_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                strftime(pd.ts, '%Y-%m-%d %H:%M:%S.%f') AS next_ts,
                pd.event_id AS next_id,
                round(pd.value, 6) AS next_value
         FROM c ASOF LEFT JOIN pd
           ON c.user_id = pd.user_id AND c.ts <= pd.ts""",
    "q_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
              p AS (SELECT user_id, ts, event_id, value,
                      row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'purchase'),
              pd AS (SELECT user_id, ts, event_id, value FROM p WHERE rn = 1),
              bwd AS (SELECT c.event_id, pd.ts AS bts, pd.event_id AS bid,
                        pd.value AS bval
                      FROM c ASOF LEFT JOIN pd
                        ON c.user_id = pd.user_id AND c.ts >= pd.ts),
              fwd AS (SELECT c.event_id, pd.ts AS fts, pd.event_id AS fid,
                        pd.value AS fval
                      FROM c ASOF LEFT JOIN pd
                        ON c.user_id = pd.user_id AND c.ts <= pd.ts),
              j AS (SELECT c.event_id, c.user_id, c.ts,
                      bts, bid, bval, fts, fid, fval
                    FROM c JOIN bwd USING (event_id)
                           JOIN fwd USING (event_id)),
              pick AS (SELECT *,
                         (bts IS NULL OR (fts IS NOT NULL
                            AND abs(epoch_us(ts) - epoch_us(fts))
                                < abs(epoch_us(ts) - epoch_us(bts)))) AS cf
                       FROM j)
         SELECT event_id, user_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                strftime(CASE WHEN cf THEN fts ELSE bts END,
                         '%Y-%m-%d %H:%M:%S.%f') AS near_ts,
                CASE WHEN cf THEN fid ELSE bid END AS near_id,
                round(CASE WHEN cf THEN fval ELSE bval END, 6) AS near_value
         FROM pick""",
    "q_sessionize" ->
      """WITH o AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                           THEN 1 ELSE 0 END AS brk
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                      ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      AS session_id
                    FROM o)
         SELECT user_id, session_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                count(*) AS n_events,
                round(avg(CAST(value AS DECIMAL(38,9))), 6) AS avg_value
         FROM s GROUP BY 1, 2""",
    "q_minhash_dedup" -> jaccardSql,
    // exact cross inverted-index Jaccard between the even/odd doc_id halves
    "q_cross_neardup" ->
      jaccardSqlWith("a.doc_id % 2 = 0 AND b.doc_id % 2 = 1"),
    // the incremental path must reproduce the batch cross recompute, so it
    // answers to the SAME exact cross-Jaccard oracle
    "q_incremental_dedup" ->
      jaccardSqlWith("a.doc_id % 2 = 0 AND b.doc_id % 2 = 1"),
    // build+append+compact must be invisible to results: the same exact
    // cross-Jaccard ground truth, thirds split (shard = %3==0, corpus =
    // the appended-then-compacted other two thirds)
    "q_compacted_dedup" ->
      jaccardSqlWith("a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0"),
    // re-banded discovery is a SUPERSET of the build banding's and the cap
    // is lifted in the gate, so the exact-jaccard verify reproduces the
    // full pair set — same oracle as the compacted flavor
    "q_rebanded_dedup" ->
      jaccardSqlWith("a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0"),
    // exhaustive probing ranks over every vector, so brute-force top-k is
    // exact whatever geometry the rebuild refit — same oracle as
    // q_indexed_ann
    "q_rebuilt_ann" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              scored AS (SELECT qid AS query_id, v.vec_id AS neighbor_id,
                           list_cosine_similarity(qe, e) AS c
                         FROM v, q WHERE v.vec_id <> qid),
              ranked AS (SELECT query_id, neighbor_id, c,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY c DESC, neighbor_id) AS r
                         FROM scored)
         SELECT query_id, neighbor_id, round(c, 6) AS cosine, r AS rank
         FROM ranked WHERE r <= 3""",
    // deterministic self-comparison gate (the q_streaming_sessions
    // pattern): dispatch identity, PQ carriage, and compressed-tier recall
    // are computed in-engine; the oracle is the constant all-green row
    "q_indexed_auto" ->
      """SELECT 'true' AS indexed_matches_direct, 'true' AS index_pq_carrying,
                'true' AS pq_recall_ok""",
    // the persisted-index queries probe every cell (nProbe = nCells; the
    // PQ flavor also pools the whole corpus), so exact brute-force top-k
    // is the ground truth — same oracle shape as q_embedding_topk
    "q_indexed_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              scored AS (SELECT qid AS query_id, v.vec_id AS neighbor_id,
                           list_cosine_similarity(qe, e) AS c
                         FROM v, q WHERE v.vec_id <> qid),
              ranked AS (SELECT query_id, neighbor_id, c,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY c DESC, neighbor_id) AS r
                         FROM scored)
         SELECT query_id, neighbor_id, round(c, 6) AS cosine, r AS rank
         FROM ranked WHERE r <= 3""",
    "q_indexed_ann" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              scored AS (SELECT qid AS query_id, v.vec_id AS neighbor_id,
                           list_cosine_similarity(qe, e) AS c
                         FROM v, q WHERE v.vec_id <> qid),
              ranked AS (SELECT query_id, neighbor_id, c,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY c DESC, neighbor_id) AS r
                         FROM scored)
         SELECT query_id, neighbor_id, round(c, 6) AS cosine, r AS rank
         FROM ranked WHERE r <= 3""",
    // PQ codebooks re-derived in SQL: codeword cw = the cw-th vector by
    // id; per (vector, subspace) the squared-L2 argmin over codewords —
    // list_sum(list_transform(...)) is the same sequential double
    // accumulation as the native kernel, ties break to the smallest cw on
    // both sides (strict < scan ≡ ORDER BY d2, cw)
    "q_pq_encode" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, e
                     FROM v ORDER BY vec_id LIMIT 16),
              d AS (SELECT v.vec_id, s.s, cb.cw,
                      list_sum(list_transform(range(16),
                        j -> (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)])
                           * (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)]))) AS d2
                    FROM v CROSS JOIN range(4) s(s) CROSS JOIN cb),
              r AS (SELECT vec_id, s, cw,
                      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cw) AS rn
                    FROM d)
         SELECT vec_id, s AS subspace, cw AS code FROM r WHERE rn = 1""",
    // ADC top-k: same code derivation, then per-subspace inner products
    // pivoted and added LEFT-ASSOCIATIVELY in subspace order — the exact
    // accumulation order of the native pq_adc loop (an aggregate sum()
    // would add in arbitrary order and drift 1 ulp on the scores)
    "q_pq_adc" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, e
                     FROM v ORDER BY vec_id LIMIT 16),
              d AS (SELECT v.vec_id, s.s, cb.cw,
                      list_sum(list_transform(range(16),
                        j -> (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)])
                           * (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)]))) AS d2
                    FROM v CROSS JOIN range(4) s(s) CROSS JOIN cb),
              codes AS (SELECT vec_id, s, cw FROM (
                          SELECT vec_id, s, cw,
                            row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cw) AS rn
                          FROM d) WHERE rn = 1),
              q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              ip AS (SELECT q.qid, c.vec_id AS nid, c.s,
                       list_sum(list_transform(range(16),
                         j -> q.qe[CAST(c.s*16 + j + 1 AS INT)] * cb.e[CAST(c.s*16 + j + 1 AS INT)])) AS p
                     FROM codes c JOIN cb ON cb.cw = c.cw CROSS JOIN q
                     WHERE c.vec_id <> q.qid),
              adc AS (SELECT qid, nid,
                        max(CASE WHEN s=0 THEN p END) + max(CASE WHEN s=1 THEN p END)
                      + max(CASE WHEN s=2 THEN p END) + max(CASE WHEN s=3 THEN p END) AS adc
                      FROM ip GROUP BY qid, nid),
              r AS (SELECT qid AS query_id, nid AS neighbor_id, adc,
                      row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS rank
                    FROM adc)
         SELECT query_id, neighbor_id, round(adc, 6) AS adc_dot, rank
         FROM r WHERE rank <= 3""",
    "q_embedding_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              scored AS (SELECT qid AS query_id, v.vec_id AS neighbor_id,
                           list_cosine_similarity(qe, e) AS c
                         FROM v, q WHERE v.vec_id <> qid),
              ranked AS (SELECT query_id, neighbor_id, c,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY c DESC, neighbor_id) AS r
                         FROM scored)
         SELECT query_id, neighbor_id, round(c, 6) AS cosine, r AS rank
         FROM ranked WHERE r <= 3""",
    // similarity histogram: same pair sample, same cosine (bit-identical
    // double accumulation), same bucket arithmetic
    "q_embedding_hist" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
              p AS (SELECT list_cosine_similarity(a.e, b.e) AS c
                    FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
                    WHERE a.vec_id % 7 = 0)
         SELECT CAST(least(greatest(
                  floor((c - -1.0) * 20 / 2.0), 0), 19) AS BIGINT) AS bucket,
                count(*) AS cnt
         FROM p GROUP BY 1""",
    // decode round-trip: Spark really encodes + decodes PNG payloads whose
    // dimensions/gray level are functions of doc_id; the oracle recomputes
    // those functions arithmetically, verifying the codec path end-to-end
    "q_image_decode" ->
      """SELECT doc_id,
                CAST(1 + doc_id % 7 AS INT) AS hdr_width,
                CAST(1 + doc_id % 7 AS INT) AS width,
                CAST(1 + doc_id % 5 AS INT) AS height,
                CAST(doc_id % 256 AS BIGINT) AS mean_gray
         FROM documents WHERE doc_id % 17 = 0""",
    "q_image_resize" ->
      """SELECT doc_id,
                CAST(3 AS INT) AS width,
                CAST(2 AS INT) AS height,
                CAST(doc_id % 256 AS BIGINT) AS mean_gray
         FROM documents WHERE doc_id % 23 = 0""",
    // dHash closed form: regenerate the gradient rasters, pool to the 9x8
    // grid (equal cell sizes -> the cross-multiplied comparison reduces to
    // the plain sum compare), set bit cy*8+cx iff the right cell sum is
    // larger; bit 63's mask is the usual subtraction spelling
    "q_image_dhash" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS s FROM documents
                      WHERE doc_id % 17 = 0),
             px AS (SELECT doc_id, s, xs.x, ys.y,
                      (doc_id * 31 + xs.x * 7 + ys.y * 3) % 256 AS g
                    FROM ids,
                         (SELECT unnest(range(0, 18)) AS x) xs,
                         (SELECT unnest(range(0, 16)) AS y) ys
                    WHERE xs.x < 9 * s AND ys.y < 8 * s),
             cells AS (SELECT doc_id, x // s AS cx, y // s AS cy,
                         sum(3 * g) AS sg
                       FROM px GROUP BY 1, 2, 3),
             bits AS (SELECT l.doc_id, l.cy * 8 + l.cx AS bit
                      FROM cells l JOIN cells r
                        ON l.doc_id = r.doc_id AND r.cy = l.cy
                          AND r.cx = l.cx + 1
                      WHERE l.cx < 8 AND r.sg > l.sg),
             hashed AS (SELECT i.doc_id,
                          coalesce(sum(CASE WHEN bit = 63
                            THEN -9223372036854775807 - 1
                            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS dhash
                        FROM ids i LEFT JOIN bits b ON i.doc_id = b.doc_id
                        GROUP BY 1)
         SELECT doc_id, dhash FROM hashed""",
    // audio round-trip: Spark really encodes + decodes WAV payloads whose
    // amplitudes/length/rate are functions of doc_id; the oracle recomputes
    // the closed forms (half the samples at +A, half at -B, so
    // rms = sqrt((A^2+B^2)/2), mean_abs = (A+B)/2 — every intermediate is
    // exactly representable, so the doubles agree bit-for-bit)
    "q_audio_decode" ->
      """SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS INT) AS hdr_rate,
                CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(2 * (32 + doc_id % 16) AS INT) AS n_frames,
                round(2 * (32 + doc_id % 16) * 1000.0
                      / (8000 + (doc_id % 5) * 1000), 6) AS duration_ms,
                round(sqrt(((doc_id % 997 + 1) * (doc_id % 997 + 1)
                            + ((doc_id * 7) % 997 + 1) * ((doc_id * 7) % 997 + 1))
                           / 2.0), 6) AS rms,
                round(((doc_id % 997 + 1) + ((doc_id * 7) % 997 + 1)) / 2.0, 6) AS mean_abs,
                CAST(greatest(doc_id % 997 + 1, (doc_id * 7) % 997 + 1) AS INT) AS peak
         FROM documents WHERE doc_id % 19 = 0""",
    // G.711 round-trip: the oracle re-derives each companded byte from the
    // (doc_id, i) formula and expands it to 16-bit linear with the ITU-T
    // G.711 arithmetic spelled in SQL — mu-law: complement, +132-biased
    // exponent/mantissa; A-law: XOR 0x55, sign bit set = positive. Integer
    // aggregation is exact, so mean/rms doubles agree bit-for-bit.
    "q_audio_g711" ->
      """WITH d AS (SELECT doc_id, 24 + doc_id % 8 AS n FROM documents
                    WHERE doc_id % 29 = 0),
              s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
              byt AS (SELECT doc_id, n,
                        CAST((doc_id * 31 + i * 7) % 256 AS INT) AS b,
                        doc_id % 2 = 0 AS mu
                      FROM s),
              dec AS (SELECT doc_id, n,
                        CASE WHEN mu THEN
                          (CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END)
                          * ((((255 - b) % 16) * 8 + 132)
                             * CAST(pow(2, ((255 - b) // 16) % 8) AS INT) - 132)
                        ELSE
                          (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END)
                          * (CASE WHEN (xor(b, 85) // 16) % 8 = 0
                                  THEN (xor(b, 85) % 16) * 16 + 8
                                  ELSE ((xor(b, 85) % 16) * 16 + 264)
                                       * CAST(pow(2, (xor(b, 85) // 16) % 8 - 1) AS INT)
                             END)
                        END AS smp
                      FROM byt),
              agg AS (SELECT doc_id, max(n) AS nf, max(abs(smp)) AS peak,
                             sum(abs(smp)) AS sum_abs, sum(smp * smp) AS sum_sq
                      FROM dec GROUP BY doc_id)
         SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS law,
                CAST(8000 AS INT) AS sample_rate,
                CAST(nf AS INT) AS n_frames,
                CAST(peak AS INT) AS peak,
                round(CAST(sum_abs AS DOUBLE) / nf, 6) AS mean_abs,
                round(sqrt(CAST(sum_sq AS DOUBLE) / nf), 6) AS rms
         FROM agg""",
    // audio time-domain features: crossings and DC in closed form per
    // waveform class (constant / alternating / block)
    "q_audio_features" ->
      """SELECT doc_id,
                CAST(2 * (16 + doc_id % 8) AS INT) AS n_frames,
                CAST(CASE CAST(doc_id % 3 AS INT)
                       WHEN 0 THEN 0
                       WHEN 1 THEN 2 * (16 + doc_id % 8) - 1
                       ELSE 1 END AS BIGINT) AS zero_crossings,
                round(CASE WHEN doc_id % 3 = 0
                           THEN CAST(doc_id % 500 + 1 AS DOUBLE)
                           ELSE ((doc_id % 500 + 1)
                                 - ((doc_id * 3) % 500 + 1)) / 2.0
                      END, 6) AS dc_offset
         FROM documents WHERE doc_id % 13 = 0""",
    // IMA ADPCM round-trip: every decoded sample re-derived by the spec
    // recurrence as a recursive CTE (step/index tables as literal lists —
    // emitted from the SAME Scala arrays the decoder uses)
    "q_audio_adpcm" -> imaAdpcmOracleSql,
    // AIFF round-trip: same closed forms as q_audio_decode (half the samples
    // at +A, half at -B), through the big-endian container
    "q_audio_aiff" ->
      """SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(2 * (32 + doc_id % 16) AS INT) AS n_frames,
                round(2 * (32 + doc_id % 16) * 1000.0
                      / (8000 + (doc_id % 5) * 1000), 6) AS duration_ms,
                round(sqrt(((doc_id % 997 + 1) * (doc_id % 997 + 1)
                            + ((doc_id * 7) % 997 + 1) * ((doc_id * 7) % 997 + 1))
                           / 2.0), 6) AS rms,
                round(((doc_id % 997 + 1) + ((doc_id * 7) % 997 + 1)) / 2.0, 6) AS mean_abs,
                CAST(greatest(doc_id % 997 + 1, (doc_id * 7) % 997 + 1) AS INT) AS peak
         FROM documents WHERE doc_id % 31 = 0""",
    // MP4 metadata round-trip: closed forms of the synthesized container
    "q_video_meta" ->
      """SELECT doc_id,
                'isom' AS brand,
                CAST(600 + (doc_id % 7) * 100 AS INT) AS timescale,
                CAST(1200 + doc_id % 601 AS INT) AS duration,
                round((1200 + doc_id % 601) * 1000.0
                      / (600 + (doc_id % 7) * 100), 6) AS duration_ms,
                CAST(1 + doc_id % 3 AS INT) AS n_tracks,
                CAST(16 * (1 + doc_id % 8) AS INT) AS width,
                CAST(16 * (1 + doc_id % 5) AS INT) AS height
         FROM documents WHERE doc_id % 41 = 0""",
    // Y4M frame-decode round-trip: every sampled frame's plane means are
    // the synthesized per-frame constants — the oracle regenerates frame
    // indices with a zipped range and recomputes each field in closed form
    // (mono chroma NULL, stride-2 sampling as a parity filter)
    "q_y4m_frames" ->
      """WITH d AS (SELECT doc_id,
                      3 + doc_id % 5 AS n,
                      CAST(4 + 2 * (doc_id % 3) AS INT) AS w,
                      CAST(4 + 2 * (doc_id % 2) AS INT) AS h,
                      CAST(24 + doc_id % 6 AS INT) AS fn,
                      CAST(1 + doc_id % 2 AS INT) AS fd,
                      CASE CAST(doc_id % 4 AS INT)
                        WHEN 0 THEN '420jpeg' WHEN 1 THEN '422'
                        WHEN 2 THEN '444' ELSE 'mono' END AS cs
                    FROM documents WHERE doc_id % 37 = 0),
              f AS (SELECT *, unnest(range(0, n)) AS fi FROM d)
         SELECT doc_id, w AS width, h AS height, fn AS fps_num, fd AS fps_den,
                cs AS colorspace, CAST(n AS INT) AS n_frames,
                CAST(fi AS INT) AS frame_idx,
                CAST((doc_id * 13 + 7 * fi) % 256 AS DOUBLE) AS mean_y,
                CASE WHEN cs = 'mono' THEN NULL
                     ELSE CAST((doc_id * 5 + 11 * fi) % 256 AS DOUBLE)
                END AS mean_u,
                CASE WHEN cs = 'mono' THEN NULL
                     ELSE CAST((doc_id * 3 + 17 * fi) % 256 AS DOUBLE)
                END AS mean_v
         FROM f WHERE fi % 2 = 0""",
    // range join: the oracle IS the naive inequality join the bucketed
    // rewrite must reproduce pair-for-pair
    "q_range_join" ->
      """WITH iv AS (SELECT o_orderkey AS interval_id,
                       datediff('day', DATE '1970-01-01', o_orderdate) AS start_day,
                       datediff('day', DATE '1970-01-01', o_orderdate)
                         + o_orderkey % 5 + 3 AS end_day
                     FROM orders WHERE o_orderkey % 97 = 0),
              pt AS (SELECT o_orderkey AS point_id,
                       datediff('day', DATE '1970-01-01', o_orderdate) AS point_day
                     FROM orders WHERE o_orderkey % 89 = 0)
         SELECT pt.point_id, iv.interval_id, pt.point_day,
                iv.start_day, iv.end_day
         FROM pt JOIN iv
           ON pt.point_day >= iv.start_day AND pt.point_day < iv.end_day""",
    // GIF frame-extraction round-trip: sampled stored frames' gray levels
    // in closed form (stride-2 parity filter over regenerated indices)
    "q_gif_frames" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents
                    WHERE doc_id % 53 = 0),
              f AS (SELECT doc_id, n, unnest(range(0, n)) AS fi FROM d)
         SELECT doc_id,
                CAST(n AS INT) AS n_frames,
                CAST(fi AS INT) AS frame_idx,
                CAST(2 + doc_id % 5 AS INT) AS width,
                CAST(2 + doc_id % 3 AS INT) AS height,
                CAST((doc_id * 11 + 29 * fi) % 256 AS BIGINT) AS mean_gray
         FROM f WHERE fi % 2 = 0""",
    // MJPEG-in-AVI: the JPEG DC-quantization error is < 3 luma levels on a
    // constant frame, so floor(mean/8) of gray 4+8m is exactly m — the
    // oracle recomputes m from the synthesis closed form
    "q_avi_frames" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
                    WHERE doc_id % 59 = 0),
              f AS (SELECT doc_id, n, unnest(range(0, n)) AS fi FROM d)
         SELECT doc_id,
                CAST(n AS INT) AS n_frames,
                CAST(fi AS INT) AS frame_idx,
                CAST(16 AS INT) AS width,
                CAST(16 AS INT) AS height,
                CAST((doc_id * 7 + 13 * fi) % 31 AS BIGINT) AS luma_bucket
         FROM f WHERE fi % 2 = 0""",

    // FLAC metadata round-trip: closed forms of the synthesized STREAMINFO;
    // total_samples exercises the 36-bit field past the 32-bit line
    "q_flac_meta" ->
      """SELECT doc_id,
                CAST(8000 + (doc_id % 11) * 4000 AS INT) AS sample_rate,
                CAST(1 + doc_id % 8 AS INT) AS channels,
                CAST(8 + doc_id % 25 AS INT) AS bits_per_sample,
                CAST(1000 + (doc_id % 7) * 8589934592 AS BIGINT) AS total_samples,
                round((1000 + (doc_id % 7) * 8589934592) * 1000.0
                      / (8000 + (doc_id % 11) * 4000), 6) AS duration_ms
         FROM documents WHERE doc_id % 43 = 0""",
    // MP3 metadata round-trip: the spec's Layer III bitrate/rate tables as
    // SQL list lookups; duration = frames * samples-per-frame / rate
    "q_mp3_meta" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'mpeg1' ELSE 'mpeg2' END AS version,
                CAST(list_extract(
                  CASE WHEN doc_id % 2 = 0 THEN [44100, 48000, 32000]
                       ELSE [22050, 24000, 16000] END,
                  CAST(1 + doc_id % 3 AS INT)) AS INT) AS sample_rate,
                CAST(list_extract(
                  CASE WHEN doc_id % 2 = 0
                       THEN [32, 40, 48, 56, 64, 80, 96, 112,
                             128, 160, 192, 224, 256, 320]
                       ELSE [8, 16, 24, 32, 40, 48, 56, 64,
                             80, 96, 112, 128, 144, 160] END,
                  CAST(1 + doc_id % 14 AS INT)) AS INT) AS bitrate_kbps,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS INT) AS channels,
                CAST(5 + doc_id % 9 AS INT) AS n_frames,
                round((5 + doc_id % 9)
                      * (CASE WHEN doc_id % 2 = 0 THEN 1152 ELSE 576 END) * 1000.0
                      / list_extract(
                          CASE WHEN doc_id % 2 = 0 THEN [44100, 48000, 32000]
                               ELSE [22050, 24000, 16000] END,
                          CAST(1 + doc_id % 3 AS INT)), 6) AS duration_ms,
                CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'xing' WHEN 1 THEN 'info' WHEN 2 THEN 'vbri'
                     ELSE NULL END AS vbr_method,
                CASE WHEN doc_id % 4 < 3 THEN CAST(100 + doc_id % 50 AS INT)
                     ELSE NULL END AS vbr_frames,
                CASE WHEN doc_id % 4 < 3
                     THEN round((100 + doc_id % 50)
                           * (CASE WHEN doc_id % 2 = 0 THEN 1152 ELSE 576 END) * 1000.0
                           / list_extract(
                               CASE WHEN doc_id % 2 = 0 THEN [44100, 48000, 32000]
                                    ELSE [22050, 24000, 16000] END,
                               CAST(1 + doc_id % 3 AS INT)), 6)
                     ELSE NULL END AS vbr_duration_ms
         FROM documents WHERE doc_id % 47 = 0""",
    // repetition signals: word-n-gram multiplicity counts rebuilt with list
    // comprehensions; same deterministic arg-max tie-break (cnt desc, gram asc)
    "q_repetition" ->
      s"""WITH base AS (SELECT doc_id, $normSql AS norm FROM documents
                        WHERE text IS NOT NULL),
             toks AS (SELECT doc_id, length(norm) AS len,
                             string_split(norm, ' ') AS t FROM base),
             g2 AS (SELECT doc_id, len,
                      unnest(list_filter(
                        list_transform(range(0, greatest(len(t)-2, 0)+1),
                                       i -> array_to_string(t[i+1:i+2], ' ')),
                        g -> len(string_split(g, ' ')) = 2)) AS gram
                    FROM toks),
             c2 AS (SELECT doc_id, gram, count(*) AS cnt, max(len) AS len
                    FROM g2 GROUP BY 1, 2),
             top2 AS (SELECT doc_id,
                        round((cnt * length(gram))::DOUBLE / greatest(len, 1), 6) AS top2_frac
                      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram ASC) AS rn FROM c2)
                      WHERE rn = 1),
             g5 AS (SELECT doc_id, len,
                      unnest(list_filter(
                        list_transform(range(0, greatest(len(t)-5, 0)+1),
                                       i -> array_to_string(t[i+1:i+5], ' ')),
                        g -> len(string_split(g, ' ')) = 5)) AS gram
                    FROM toks),
             c5 AS (SELECT doc_id, gram, count(*) AS cnt, max(len) AS len
                    FROM g5 GROUP BY 1, 2),
             dup5 AS (SELECT doc_id,
                        round(sum(CASE WHEN cnt > 1 THEN cnt * length(gram)
                                       ELSE 0 END)::DOUBLE / greatest(max(len), 1), 6) AS dup5_frac
                      FROM c5 GROUP BY doc_id)
         SELECT b.doc_id,
                coalesce(t2.top2_frac, 0.0) AS top2_frac,
                coalesce(d5.dup5_frac, 0.0) AS dup5_frac
         FROM base b LEFT JOIN top2 t2 USING (doc_id)
                     LEFT JOIN dup5 d5 USING (doc_id)""",
    // decontamination: distinct word 5-grams, eval set = doc_id % 37 = 0
    "q_decontaminate" ->
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS t
                     FROM documents WHERE text IS NOT NULL),
             g AS (SELECT doc_id,
                     unnest(list_distinct(list_filter(
                       list_transform(range(0, greatest(len(t)-5, 0)+1),
                                      i -> array_to_string(t[i+1:i+5], ' ')),
                       g -> len(string_split(g, ' ')) = 5))) AS gram
                   FROM d),
             ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0)
         SELECT g.doc_id, count(*) AS n_shared
         FROM g JOIN ev USING (gram)
         WHERE g.doc_id % 37 <> 0
         GROUP BY g.doc_id""",
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> length(x) > 0)
                        AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND doc_id % 13 = 0),
              s AS (SELECT doc_id, toks,
                      unnest(range(0, len(toks), 24)) AS start
                    FROM t WHERE len(toks) > 0)
         SELECT doc_id,
                CAST(start / 24 AS BIGINT) AS chunk_idx,
                array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text,
                CAST(least(32, len(toks) - start) AS BIGINT) AS chunk_tokens
         FROM s""",
    "q_lm_score" ->
      s"""WITH d AS (SELECT doc_id,
                       string_split($normSql, ' ') AS toks
                     FROM documents WHERE text IS NOT NULL),
              vocab AS (SELECT count(DISTINCT w) AS v
                        FROM (SELECT unnest(toks) AS w FROM d) WHERE w <> ''),
              idx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                      FROM d WHERE len(toks) > 1),
              bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
              c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
              c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
              terms AS (SELECT bi.doc_id,
                          CAST(ln((c12.c12 + 1.0) / (c1.c1 + vocab.v))
                               AS DECIMAL(28,12)) AS lp
                        FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                             CROSS JOIN vocab)
         SELECT doc_id, count(*) AS n_bigrams,
                round(-avg(lp), 6) AS cross_entropy
         FROM terms GROUP BY doc_id""",
    "q_backoff_score" -> {
      val lnA = math.log(0.4) // JVM literal injected so both engines
      s"""WITH d AS (SELECT doc_id,
                       list_filter(string_split($normSql, ' '),
                                   w -> w <> '') AS toks
                     FROM documents WHERE text IS NOT NULL),
              dd AS (SELECT * FROM d WHERE len(toks) > 0),
              pos AS (SELECT doc_id, toks,
                        unnest(range(1, len(toks) + 1)) AS i FROM dd),
              p AS (SELECT doc_id, toks[i] AS w,
                      CASE WHEN i >= 2 THEN toks[i - 1] END AS b,
                      CASE WHEN i >= 3 THEN toks[i - 2] END AS a
                    FROM pos),
              tp AS (SELECT * FROM p WHERE doc_id % 3 <> 0),
              tv AS (SELECT count(*) AS t, count(DISTINCT w) AS v FROM tp),
              c1 AS (SELECT w, count(*) AS c1 FROM tp GROUP BY 1),
              c2 AS (SELECT b, w, count(*) AS c2 FROM tp
                     WHERE b IS NOT NULL GROUP BY 1, 2),
              c3 AS (SELECT a, b, w, count(*) AS c3 FROM tp
                     WHERE a IS NOT NULL GROUP BY 1, 2, 3),
              sc AS (SELECT p.doc_id, c3.c3, c2.c2, cab.c2 AS cab,
                       c1.c1 AS c1w, cb.c1 AS cb,
                       CASE WHEN p.a IS NOT NULL THEN 3
                            WHEN p.b IS NOT NULL THEN 2 ELSE 1 END AS s
                     FROM p
                     LEFT JOIN c3 ON c3.a = p.a AND c3.b = p.b AND c3.w = p.w
                     LEFT JOIN c2 ON c2.b = p.b AND c2.w = p.w
                     LEFT JOIN c2 cab ON cab.b = p.a AND cab.w = p.b
                     LEFT JOIN c1 ON c1.w = p.w
                     LEFT JOIN c1 cb ON cb.w = p.b),
              terms AS (SELECT doc_id,
                          CAST(CASE
                            WHEN c3 IS NOT NULL THEN ln(CAST(c3 AS DOUBLE) / cab)
                            WHEN c2 IS NOT NULL THEN (s - 2) * ($lnA) +
                              ln(CAST(c2 AS DOUBLE) / cb)
                            WHEN c1w IS NOT NULL THEN (s - 1) * ($lnA) +
                              ln(CAST(c1w AS DOUBLE) / t)
                            ELSE s * ($lnA) + ln(1.0 / (t + v + 1))
                          END AS DECIMAL(28,12)) AS lp,
                          CASE WHEN c1w IS NULL THEN 1 ELSE 0 END AS oov
                        FROM sc CROSS JOIN tv)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                round(-avg(lp), 6) AS backoff_xent
         FROM terms GROUP BY doc_id"""
    },
    "q_tfidf_topk" ->
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents
                     WHERE text IS NOT NULL),
              tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token
                      FROM d),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
                     WHERE token <> '' GROUP BY 1, 2),
              dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n FROM d),
              scored AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
                           tf.tf * ln((n.n + 1.0) / (dfq.df + 1.0)) AS tfidf
                         FROM tf JOIN dfq USING (token) CROSS JOIN n),
              ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, token ASC) AS rank
                         FROM scored)
         SELECT doc_id, token, tf, df, round(tfidf, 6) AS tfidf, rank
         FROM ranked WHERE rank <= 5""",
    "q_vocab_topk" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS token
                        FROM documents WHERE text IS NOT NULL)
         SELECT token, count(*) AS n FROM toks WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""",
    "q_split_assign" -> {
      val bounds = graft.ops.Corpus.splitBoundsHex(
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      s"""SELECT doc_id,
                 CASE WHEN md5(doc_id || ':graft') < '${bounds(0)}' THEN 'train'
                      WHEN md5(doc_id || ':graft') < '${bounds(1)}' THEN 'val'
                      ELSE 'test' END AS split
          FROM documents"""
    },
    // near-dup split leakage: CC closure (q_dedup_clusters) ⋈ lattice
    // splits (q_split_assign) → non-train members of clusters with >= 1
    // train doc
    "q_split_leakage" -> {
      val bounds = graft.ops.Corpus.splitBoundsHex(
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      s"""WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ($jaccardSql)),
              edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                        UNION SELECT id2, id1 FROM pairs),
              reach AS (SELECT a AS id, b AS r FROM edges
                        UNION
                        SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
              cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
                     FROM reach GROUP BY id),
              sp AS (SELECT doc_id,
                       CASE WHEN md5(doc_id || ':graft') < '${bounds(0)}' THEN 'train'
                            WHEN md5(doc_id || ':graft') < '${bounds(1)}' THEN 'val'
                            ELSE 'test' END AS split
                     FROM documents),
              m AS (SELECT cl.doc_id, cl.cluster_id, sp.split
                    FROM cl JOIN sp USING (doc_id)),
              agg AS (SELECT cluster_id,
                        sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train,
                        count(*)::BIGINT AS n_docs
                      FROM m GROUP BY 1)
         SELECT m.doc_id, m.cluster_id, m.split, a.n_train, a.n_docs
         FROM m JOIN agg a USING (cluster_id)
         WHERE m.split <> 'train' AND a.n_train > 0"""
    },
    // n-gram novelty: distinct 8-token window fps per doc, document
    // frequency over the distinct sets, novel = df == 1
    "q_novelty" ->
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
                  FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM d),
             w0 AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, n - 6),
                        i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS fps
                    FROM t WHERE n >= 8),
             w AS (SELECT doc_id, unnest(fps) AS fp FROM w0),
             dfreq AS (SELECT fp, count(*) AS nd FROM w GROUP BY 1),
             per AS (SELECT w.doc_id, count(*)::BIGINT AS n_fp,
                       sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
                     FROM w JOIN dfreq USING (fp) GROUP BY 1)
         SELECT t.doc_id, coalesce(per.n_fp, 0)::BIGINT AS n_fp,
                coalesce(per.n_novel, 0)::BIGINT AS n_novel,
                round(per.n_novel::DOUBLE / nullif(per.n_fp, 0), 6) AS novelty
         FROM t LEFT JOIN per USING (doc_id)""",
    // Wilson interval: identical double operand order as Stats.proportionCI
    // (z and z² as the exact double literals the Scala side uses)
    "q_wilson_ci" ->
      """WITH a AS (SELECT l_returnflag, count(*)::BIGINT AS n_rows,
                      sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS n_true
                    FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n_rows, n_true,
                round(n_true::DOUBLE / n_rows, 6) AS p_hat,
                round((n_true::DOUBLE / n_rows
                         + 3.8414588206941254 / (2.0 * n_rows)
                       - 1.959963984540054 * sqrt(
                           (n_true::DOUBLE / n_rows) * (1.0 - n_true::DOUBLE / n_rows) / n_rows
                             + 3.8414588206941254 / (4.0 * n_rows * n_rows)))
                      / (1.0 + 3.8414588206941254 / n_rows), 6) AS ci_lo,
                round((n_true::DOUBLE / n_rows
                         + 3.8414588206941254 / (2.0 * n_rows)
                       + 1.959963984540054 * sqrt(
                           (n_true::DOUBLE / n_rows) * (1.0 - n_true::DOUBLE / n_rows) / n_rows
                             + 3.8414588206941254 / (4.0 * n_rows * n_rows)))
                      / (1.0 + 3.8414588206941254 / n_rows), 6) AS ci_hi
         FROM a""",
    // drift report: numeric rows via the fused KS+W1 fragment (identical
    // shapes to q_wasserstein plus the D max), categorical row via the
    // q_chi2 cell arithmetic on l_returnflag
    "q_drift_report" ->
      (driftNumSql("l_extendedprice") + "\n UNION ALL \n" +
        driftNumSql("l_quantity") + "\n UNION ALL \n" +
        """(WITH a AS (SELECT coalesce(CAST(l_returnflag AS VARCHAR), '<null>')
                         AS c FROM lineitem WHERE l_orderkey % 2 = 0),
                b AS (SELECT coalesce(CAST(l_returnflag AS VARCHAR), '<null>')
                         AS c FROM lineitem WHERE l_orderkey % 2 = 1),
                ca AS (SELECT c, count(*) AS ca FROM a GROUP BY c),
                cb AS (SELECT c, count(*) AS cb FROM b GROUP BY c),
                j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                      FROM ca FULL OUTER JOIN cb USING (c)),
                tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS k
                        FROM j),
                t AS (SELECT na, nb, k,
                        CAST((CAST(ca AS DOUBLE)
                               - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             * (CAST(ca AS DOUBLE)
                               - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             / (CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             AS DECIMAL(28, 12))
                        + CAST((CAST(cb AS DOUBLE)
                               - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             * (CAST(cb AS DOUBLE)
                               - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             / (CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             AS DECIMAL(28, 12)) AS term
                      FROM j, tot)
           SELECT 'l_returnflag' AS "column", 'categorical' AS kind,
                  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                  CAST(NULL AS DOUBLE) AS ks_d, CAST(NULL AS DOUBLE) AS w1,
                  round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
                  CAST(max(k) AS INT) AS n_categories
           FROM t)"""),

    // Benford: identical digit string-arithmetic, the identical hardcoded
    // log10(1+1/d) literals, coalesced zero-count digits on a 1..9 spine
    "q_benford" ->
      """WITH e AS (SELECT CASE WHEN l_extendedprice IS NOT NULL
                                 AND abs(l_extendedprice) >= 1
                                 AND abs(l_extendedprice) < 1e38
                             THEN CAST(substring(CAST(CAST(floor(abs(l_extendedprice)) AS HUGEINT) AS VARCHAR), 1, 1) AS INT)
                           END AS d
                    FROM lineitem),
              c AS (SELECT d, count(*)::BIGINT AS n FROM e WHERE d IS NOT NULL GROUP BY 1),
              t AS (SELECT sum(n)::BIGINT AS tot FROM c),
              x AS (SELECT count(*)::BIGINT AS nex FROM e WHERE d IS NULL),
              s AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
              ex AS (SELECT digit,
                       CASE digit
                         WHEN 1 THEN 0.3010299956639812
                         WHEN 2 THEN 0.17609125905568124
                         WHEN 3 THEN 0.12493873660829992
                         WHEN 4 THEN 0.09691001300805642
                         WHEN 5 THEN 0.07918124604762482
                         WHEN 6 THEN 0.06694678963061322
                         WHEN 7 THEN 0.05799194697768673
                         WHEN 8 THEN 0.05115252244738129
                         ELSE 0.04575749056067514 END AS es
                     FROM s)
         SELECT ex.digit AS digit,
                coalesce(c.n, 0)::BIGINT AS n_digit,
                round(coalesce(c.n, 0)::DOUBLE / tot::DOUBLE, 6) AS observed_share,
                round(es, 6) AS expected_share,
                nex AS n_excluded
         FROM ex LEFT JOIN c ON ex.digit = c.d, t, x""",

    // trimmed/winsorized mean: running counts over distinct scaled values,
    // exact kept-multiplicity overlap, identical double shapes
    "q_trimmed_mean" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                           count(*)::BIGINT AS cnt
                    FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
              r AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS run FROM c),
              t AS (SELECT sum(cnt)::BIGINT AS n FROM c),
              p AS (SELECT n, CAST(floor(0.1 * n) AS BIGINT) AS k FROM t),
              a AS (SELECT any_value(n) AS n, any_value(k) AS k,
                           sum(greatest(0, least(run, n - k)
                                 - greatest(run - cnt, k))::HUGEINT * v::HUGEINT) AS s,
                           min(CASE WHEN run >= k + 1 THEN v END) AS lo,
                           min(CASE WHEN run >= n - k THEN v END) AS hi
                    FROM r, p)
         SELECT n, k AS n_trimmed_each_side,
                round(s::DOUBLE / (n - 2 * k)::DOUBLE / 100.0, 6) AS trimmed_mean,
                round((s::DOUBLE + k::DOUBLE * lo::DOUBLE + k::DOUBLE * hi::DOUBLE)
                      / n::DOUBLE / 100.0, 6) AS winsorized_mean,
                round(lo::DOUBLE / 100.0, 6) AS lo_cut,
                round(hi::DOUBLE / 100.0, 6) AS hi_cut
         FROM a""",

    // concentration: ranks ascending by (weight, key), exact HUGEINT
    // rank*w and w^2 sums, single divisions in the identical shapes
    "q_concentration" ->
      """WITH w AS (SELECT source AS k, sum(n_chars)::BIGINT AS w
                    FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
              r AS (SELECT k, w,
                      row_number() OVER (ORDER BY w::DOUBLE, k) AS rk FROM w),
              a AS (SELECT count(*)::BIGINT AS g, sum(w) AS tw,
                           sum(rk::HUGEINT * w::HUGEINT) AS rw,
                           sum(w::HUGEINT * w::HUGEINT) AS w2,
                           max(w) AS mx,
                           sum(CASE WHEN w < 0 THEN 1 ELSE 0 END)::BIGINT AS neg
                    FROM r)
         SELECT g AS n_groups,
                round(tw::DOUBLE, 6) AS total_weight,
                round(2.0 * rw::DOUBLE / (g::DOUBLE * tw::DOUBLE)
                      - (g::DOUBLE + 1.0) / g::DOUBLE, 6) AS gini,
                round(w2::DOUBLE / (tw::DOUBLE * tw::DOUBLE), 6) AS hhi,
                round(mx::DOUBLE / tw::DOUBLE, 6) AS top_share,
                neg AS n_negative
         FROM a""",

    // Cohen's kappa: exact joint/marginal integers; p_o, p_e, kappa in the
    // identical double shapes (HUGEINT marginal products before division)
    "q_cohen_kappa" ->
      """WITH l AS (SELECT l_returnflag AS a,
                      CASE WHEN l_quantity > 25 THEN l_returnflag
                           ELSE l_linestatus END AS b
                    FROM lineitem),
              j AS (SELECT a, b, count(*)::BIGINT AS c FROM l GROUP BY 1, 2),
              ma AS (SELECT a, sum(c)::BIGINT AS ca FROM j GROUP BY 1),
              mb AS (SELECT b, sum(c)::BIGINT AS cb FROM j GROUP BY 1),
              t AS (SELECT sum(c)::BIGINT AS n,
                           sum(CASE WHEN a = b THEN c ELSE 0 END)::BIGINT AS agree,
                           count(DISTINCT a)::INT AS ka,
                           count(DISTINCT b)::INT AS kb
                    FROM j),
              pe AS (SELECT coalesce(sum(ca::HUGEINT * cb::HUGEINT), 0) AS pe_num
                     FROM ma JOIN mb ON ma.a = mb.b)
         SELECT t.n AS n, t.ka AS n_categories_a, t.kb AS n_categories_b,
                round(agree::DOUBLE / n::DOUBLE, 6) AS p_o,
                round(pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE), 6) AS p_e,
                round((agree::DOUBLE / n::DOUBLE
                         - pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE))
                      / (1.0 - pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE)), 6) AS kappa
         FROM t, pe""",

    // Poisson bootstrap: identical md5-lattice uniforms, the identical
    // hardcoded Poisson(1) CDF ladder, HUGEINT-exact weighted sums, the
    // same (sx/sw)/scale double shape and rank-1/rank-20 CI selection (20 replicates keep the gate cheap; both flavors are spec-pinned at higher counts)
    "q_bootstrap_ci" ->
      """WITH e AS (SELECT event_id, CAST(round(value * 1000000) AS HUGEINT) AS x
                    FROM events WHERE value IS NOT NULL),
              t AS (SELECT count(*)::BIGINT AS n, sum(x) AS tsx FROM e),
              b AS (SELECT unnest(range(1, 21)) AS bb),
              u AS (SELECT e.event_id, e.x, b.bb,
                      (('0x' || substring(md5(e.event_id::VARCHAR || ':gate:' || b.bb::VARCHAR), 1, 13))::BIGINT + 0.5)
                        / 4503599627370496.0 AS uu
                    FROM e CROSS JOIN b),
              w AS (SELECT bb, x,
                      CASE WHEN uu < 0.36787944117144233 THEN 0
                           WHEN uu < 0.7357588823428847 THEN 1
                           WHEN uu < 0.9196986029286058 THEN 2
                           WHEN uu < 0.9810118431238463 THEN 3
                           WHEN uu < 0.9963401531726563 THEN 4
                           WHEN uu < 0.9994058151824183 THEN 5
                           WHEN uu < 0.999916758850712 THEN 6
                           WHEN uu < 0.9999897508033253 THEN 7
                           ELSE 8 END AS w
                    FROM u),
              m AS (SELECT bb, sum(w::HUGEINT * x) AS sx, sum(w)::BIGINT AS sw
                    FROM w GROUP BY 1 HAVING sum(w) > 0),
              r AS (SELECT bb, (sx::DOUBLE / sw::DOUBLE) / 1000000.0 AS mean,
                      row_number() OVER (
                        ORDER BY (sx::DOUBLE / sw::DOUBLE) / 1000000.0, bb) AS rk
                    FROM m),
              ci AS (SELECT min(CASE WHEN rk = 1 THEN mean END) AS lo,
                            min(CASE WHEN rk = 20 THEN mean END) AS hi,
                            count(*)::BIGINT AS nb
                     FROM r)
         SELECT t.n AS n, CAST(20 AS INT) AS n_resamples,
                round((t.tsx::DOUBLE / t.n::DOUBLE) / 1000000.0, 6) AS mean,
                round(CASE WHEN ci.nb >= 20 THEN ci.lo END, 6) AS ci_lo,
                round(CASE WHEN ci.nb >= 20 THEN ci.hi END, 6) AS ci_hi
         FROM t, ci""",

    "q_stratified_sample" ->
      """WITH s AS (SELECT doc_id, doc_id % 7 AS stratum,
                           md5(doc_id || ':graft:sample') AS u FROM documents),
             r AS (SELECT doc_id, stratum,
                     CAST(row_number() OVER (PARTITION BY stratum
                            ORDER BY u, doc_id) AS INT) AS sample_rank FROM s)
         SELECT doc_id, stratum, sample_rank FROM r WHERE sample_rank <= 3""",
    "q_weighted_mix" -> {
      val h = graft.ops.Corpus.rateBoundHex(0.5)
      val t = graft.ops.Corpus.rateBoundHex(0.25)
      s"""SELECT 'head' AS mix_source, doc_id FROM documents
          WHERE doc_id % 2 = 0 AND md5(doc_id || ':graft:head') < '$h'
          UNION ALL
          SELECT 'tail' AS mix_source, doc_id FROM documents
          WHERE doc_id % 2 = 1 AND md5(doc_id || ':graft:tail') < '$t'"""
    },
    // sequence packing: same md5 order / bucket lattice / running token sum
    "q_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id,
                            len(string_split($normSql, ' '))::BIGINT AS n_tokens,
                            md5(doc_id || ':graft:pack') AS u
                     FROM documents WHERE text IS NOT NULL),
             b AS (SELECT doc_id, n_tokens, u,
                          ('0x' || substring(u, 1, 8))::BIGINT % 16 AS pack_bucket
                   FROM d),
             o AS (SELECT doc_id, pack_bucket,
                          sum(n_tokens) OVER (PARTITION BY pack_bucket
                              ORDER BY u, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            - n_tokens AS pack_offset
                   FROM b)
         SELECT doc_id, pack_bucket,
                CAST(pack_offset // 2048 AS BIGINT) AS pack_id,
                CAST(pack_offset AS BIGINT) AS pack_offset
         FROM o"""
  )

  private implicit class SeqAsJava[A](private val s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.length)
      s.foreach(l.add)
      l
    }
  }
}
