package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Writes PLANS.md: formatted physical plans of headline queries with the
  * scale-relevant properties called out. Dev tool:
  * `sbt "runMain graft.tools.DumpPlans"`.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val sb  = new StringBuilder
    sb ++= "# PLANS — physical plans of headline queries (sf0.001, local[8])\n\n"
    sb ++= "Generated by `graft.tools.DumpPlans`. What to look for per plan is\n"
    sb ++= "noted above each extract; regenerate after plan-affecting changes.\n"

    def section(title: String, note: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb ++= s"\n## $title\n\n$note\n\n```\n"
      sb ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .linesIterator.take(60).mkString("\n")
      sb ++= "\n```\n"
    }

    section(
      "selection (operator #1)",
      "Filter + projection reach the parquet scan: `PushedFilters` carries the " +
        "predicate, `ReadSchema` holds only the projected columns.",
      graft.core.DataRef(
        graft.core.ParquetSource(s"$dir/lineitem.parquet"),
        Some(Seq("l_orderkey", "l_quantity")),
        Some(graft.core.Condition.raw("l_quantity > 45"))).selection(spark))

    section(
      "exact percentile via distributed prefix sum",
      "No unpartitioned Window: per-bucket windows (`partitionSpec: dj_bucket`) " +
        "after an approx-quantile bucketing pass; whole-stage codegen spans the scan+agg.",
      {
        val counts = spark.read.parquet(s"$dir/lineitem.parquet")
          .where(col("l_extendedprice").isNotNull)
          .groupBy(col("l_extendedprice").as("v")).agg(count(lit(1)).as("cnt"))
        graft.ops.CumSum.withRunningSum(counts, "v", "cnt", "cum")
      })

    section(
      "row mismatch (operator #29)",
      "Equi-join on match keys; null-safe compare folded into the aggregate; " +
        "AQE may broadcast the smaller side at runtime.",
      {
        val a = spark.read.parquet(s"$dir/orders.parquet")
        val j = graft.ops.Ops.renameAll(a.select(col("o_orderkey"), col("o_orderpriority")), "_l")
          .join(graft.ops.Ops.renameAll(a.select(col("o_orderkey"), col("o_orderpriority")), "_r"),
            col("o_orderkey_l") === col("o_orderkey_r"))
        j.agg(avg(when(col("o_orderpriority_l") <=> col("o_orderpriority_r"), 0.0)
          .otherwise(1.0)), count(lit(1)))
      })

    section(
      "brute-force cosine top-k",
      "Query side broadcast (`BroadcastExchange`/`BroadcastNestedLoopJoin`); the " +
        "corpus is scanned once; ranking shuffles on query_id only.",
      graft.ops.Similarity.bruteForceTopK(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") < 3),
        "vec_id", "embedding", 3))

    section(
      "MinHash LSH candidate generation",
      "Band explode is linear; the bucket frame materializes once (the " +
        "LogicalRDD below — lshCandidatePairs checkpoints its input " +
        "eagerly, so building this plan already ran shingling); the cap " +
        "filters bucket KEYS off a count aggregate, and the within-bucket " +
        "self-join only ever sees buckets bounded at maxBucketSize rows " +
        "per side — candidate volume is capped, never quadratic in a hot " +
        "bucket.",
      graft.ops.Dedup.lshCandidatePairs(
        graft.ops.Dedup.lshBuckets(
          graft.ops.Dedup.minhashed(
            spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id"),
          "doc_id", 16),
        "doc_id"))

    section(
      "eval-set decontamination",
      "Corpus gram stream scanned once, never shuffled; the distinct eval gram " +
        "set is the `BroadcastExchange` side of the join.",
      {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        graft.ops.Corpus.decontaminate(
          docs.where(col("doc_id") % 37 =!= 0),
          docs.where(col("doc_id") % 37 === 0),
          "text", "doc_id", n = 5)
      })

    section(
      "stratified sample (salted two-phase top-k)",
      "Both `Window` operators carry a partitionSpec — phase 1 keys on " +
        "(stratum, salt) so no per-stratum reducer funnel; phase 2 ranks only " +
        "the <= k * nPartitions survivors.",
      graft.ops.Corpus.stratifiedSample(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), (col("doc_id") % 7).as("stratum")),
        "stratum", "doc_id", k = 3))

    section(
      "weighted training mix",
      "Pure per-row membership filters + union: no Exchange anywhere; each " +
        "source's rate filter is absorbed by its scan.",
      {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        graft.ops.Corpus.weightedMix(
          Seq(
            ("a", docs.where(col("doc_id") % 2 === 0), 0.5),
            ("b", docs.where(col("doc_id") % 2 === 1), 0.25)),
          "doc_id", tagCol = "mix_source")
      })

    section(
      "sequence packing",
      "One hash-balanced per-bucket running-sum window (partitionSpec: " +
        "pack_bucket) — no global sort; pack ids are per-row projections on top.",
      graft.ops.Corpus.packSequences(
        spark.read.parquet(s"$dir/documents.parquet")
          .where(col("text").isNotNull)
          .select(
            col("doc_id"),
            graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", capacity = 2048, nBuckets = 16))

    section(
      "interval gap sweep (keyed)",
      "One per-key sweep, NOT an anti-join and no rank join: each row " +
        "explodes to a start probe, an end probe and an interval event; " +
        "`Window`s with partitionSpec = key ordered by (coord, tag) take the " +
        "running max of interval ends and the running counts of free starts " +
        "and ends (their ranks); the rank pairing is a `HashAggregate` on " +
        "(key, pair) that reuses the window's key partitioning — one Exchange.",
      {
        val iv = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_suppkey"), col("l_quantity").as("s_num"),
            (col("l_quantity") + 2.0).as("e_num"))
        graft.ops.Intervals.gapViolations(
          spark, graft.core.DataRef(graft.core.FrameSource(iv, "iv")),
          Seq("l_suppkey"), "s_num", "e_num",
          graft.ops.Intervals.numericGapCondition(3.0))
      })

    section(
      "as-of join (union-tag sweep)",
      "Backward as-of without a range join: carriers and probes union into " +
        "one per-key `Window` (partitionSpec: user_id) with a forward fill " +
        "— no Join operator, one Exchange on the key.",
      {
        val ev = spark.read.parquet(s"$dir/events.parquet")
        graft.ops.Events.asofJoin(
          ev.where(col("event_type") === "click"),
          ev.where(col("event_type") === "purchase"),
          Seq("user_id"), "ts", "ts", Seq("event_id", "value"),
          tieBreak = Some("event_id"))
      })

    section(
      "bucketed range join",
      "The non-equi point-in-interval join as a HASH equi-join: intervals " +
        "explode to coarse buckets, points map to one, the residual range " +
        "predicate rides as the join filter — no BroadcastNestedLoopJoin, " +
        "no CartesianProduct at any scale.",
      {
        val orders = spark.read.parquet(s"$dir/orders.parquet")
        def day(c: org.apache.spark.sql.Column) =
          datediff(c, lit("1970-01-01")).cast("long")
        graft.ops.RangeJoin.rangeJoin(
          orders.where(col("o_orderkey") % 89 === 0)
            .select(col("o_orderkey").as("point_id"),
              day(col("o_orderdate")).as("p")),
          orders.where(col("o_orderkey") % 97 === 0)
            .select(col("o_orderkey").as("interval_id"),
              day(col("o_orderdate")).as("s"),
              (day(col("o_orderdate")) + lit(7)).as("e")),
          "p", "s", "e")
      })

    section(
      "boilerplate removal",
      "ONE countDistinct aggregate over (group, unit fingerprint) — partial " +
        "aggregation collapses a navbar repeated everywhere into " +
        "per-partition distinct sets before the shuffle; the per-group doc " +
        "count is the tiny BroadcastExchange side; reassembly is a per-doc " +
        "hash aggregate.",
      graft.ops.Dedup.removeBoilerplate(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
        delimiter = " ", minDocFraction = 0.9, groupCol = Some("source")))

    section(
      "Count-Min sketch + estimates",
      "The sketch is a grouped-count TABLE bounded by depth x width — the " +
        "HashAggregate pair is the map-side combine; probes join the " +
        "sketch via BroadcastExchange (never a shuffle of the corpus).",
      {
        val toks = spark.read.parquet(s"$dir/documents.parquet")
          .where(col("text").isNotNull)
          .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
        graft.ops.Sketches.cmsEstimate(
          graft.ops.Sketches.cmsSketch(toks, "tok", 4, 64),
          toks.limit(5), "tok", 4, 64)
      })

    section(
      "FK orphans (referential integrity)",
      "LEFT ANTI hash join on the key — AQE broadcasts the deduplicated " +
        "parent side when small; NULL child keys are filtered before the " +
        "join (SQL MATCH SIMPLE exemption).",
      graft.ops.Integrity.orphanStats(
        spark.read.parquet(s"$dir/lineitem.parquet"),
        spark.read.parquet(s"$dir/orders.parquet")
          .where(col("o_orderkey") % 3 =!= 0),
        Seq("l_orderkey"), Seq("o_orderkey")))

    section(
      "2-D interval overlap clean-key sweep",
      "ONE hash exchange on the key + within-partition sort (keys, s1, s2) " +
        "+ streaming mapPartitions (dim-1 expiry heap + dim-2 max-treap " +
        "prefix-max stab) — replaces the per-key-quadratic pair self-join; " +
        "no Join operator anywhere in the count path.",
      {
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(
            col("l_orderkey"),
            col("l_shipdate").cast("timestamp").cast("double").as("s1"),
            (col("l_shipdate").cast("timestamp").cast("double") + 86400 * 5).as("e1"),
            col("l_quantity").cast("double").as("s2"),
            (col("l_quantity") + 10.0).cast("double").as("e2"))
        graft.ops.Intervals.sweep2DFlags(
          li, Seq("l_orderkey"), "s1", "e1", "s2", "e2", endIncluded = true)
      })

    section(
      "encoding profile (mojibake detect + repair)",
      "A single codegen'd projection — regexp counts + the encode/decode " +
        "repair round-trip are all column expressions; no shuffle, no UDF.",
      graft.ops.Encoding.encodingProfile(
        spark.read.parquet(s"$dir/documents.parquet"), "text"))

    section(
      "N-D (3-D) interval overlap clean-key sweep",
      "Same single-exchange shape as the 2-D sweep — hash exchange on the " +
        "key, within-partition sort by (keys, s1..sN), streaming " +
        "mapPartitions (flag-early linear active scan with in-place lazy " +
        "expiry) — no Join operator at any dimensionality.",
      {
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(
            col("l_orderkey"),
            col("l_quantity").cast("double").as("s1"),
            (col("l_quantity") + 10.0).cast("double").as("e1"),
            col("l_extendedprice").cast("double").as("s2"),
            (col("l_extendedprice") + 500.0).cast("double").as("e2"),
            col("l_suppkey").cast("double").as("s3"),
            (col("l_suppkey") + 3.0).cast("double").as("e3"))
        graft.ops.Intervals.sweepNDFlags(
          li, Seq("l_orderkey"), Seq("s1", "s2", "s3"),
          Seq("e1", "e2", "e3"), endIncluded = true)
      })

    section(
      "DSIR importance weights",
      "The bucket-sized log-ratio table enters the per-document scoring " +
        "join as a BroadcastHashJoin build side (`ResolvedHint`/broadcast " +
        "exchange) — the corpus side never shuffles against the " +
        "vocabulary; gram explode + hash + per-doc aggregate are the only " +
        "corpus-scaled operators.",
      {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        graft.ops.Dsir.importanceWeights(
          docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
          nBuckets = 128)
      })

    section(
      "DSIR Gumbel-top-k selection",
      "TakeOrderedAndProject (per-partition heaps) does the corpus-wide " +
        "selection; the rank Window sits ABOVE it, consuming only the k " +
        "selected rows — never an unpartitioned window over the corpus.",
      {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        graft.ops.Dsir.resample(
          docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
          k = 20, nBuckets = 128)
      })

    section(
      "classifier scoring (hashed linear model)",
      "The weight table (nBuckets rows) broadcasts into the feature join; " +
        "margins reduce in one hash aggregate — scoring a 100 TB corpus " +
        "is one gram-explode scan + one bounded-width aggregate.",
      {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val model = graft.ops.Classifier.Model(
          new Array[Double](128), 0.0, 128, md5Flavor = false)
        graft.ops.Classifier.score(model, docs, "text", "doc_id")
      })

    section(
      "weight-balanced shard assignment",
      "The global rank is the bucketed CumSum scheme — sampled range " +
        "boundaries, per-bucket `partitionSpec: dj_bucket` windows, " +
        "driver-side offsets — never an unpartitioned Window; everything " +
        "after is arithmetic on the rank.",
      {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .where(col("text").isNotNull)
          .select(col("doc_id"),
            graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
        graft.ops.Corpus.assignShardsBalanced(docs, "doc_id", "w", nShards = 8)
      })

    section(
      "Wasserstein-1 drift (EDF area integral)",
      "One union-tag shuffle to the checkpointed distinct-value frame, " +
        "per-bucket `partitionSpec: dj_bucket` windows for the running " +
        "counts AND the cross-bucket successor (`lead` + driver-side " +
        "suffix-min carry) — no unpartitioned Window, no join; the area " +
        "terms are exact decimals summed in one aggregate.",
      {
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
        graft.ops.Drift.wasserstein1(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", scale = 100L)
      })

    section(
      "per-group KS drift",
      "ONE per-key sort: the running-sum and group-total windows share " +
        "`partitionSpec: dj_k` (a single Exchange+Sort), then a per-key " +
        "aggregate takes the integer D maximum — keys spread across the " +
        "cluster, no global sort anywhere.",
      {
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
        graft.ops.Stats.ksByGroup(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", "l_returnflag", scale = 100L)
      })

    section(
      "auto-sized multi-table LSH top-k",
      "Corpus-aware defaults (`lshAutoParams`): corpus rows fan out to L " +
        "(table, bucket) cells, query probes BROADCAST into one equi-join " +
        "on the cell struct, candidates deduplicate (`HashAggregate` on " +
        "query_id+neighbor_id) BEFORE the cosine scoring projection, then " +
        "a per-query-id window ranks — no corpus self-join, no " +
        "unpartitioned window.",
      {
        val v = spark.read.parquet(s"$dir/embeddings.parquet")
        graft.ops.Similarity.lshTopKAuto(
          v, v.where(col("vec_id") % 25 === 0), "vec_id", "embedding",
          k = 10, corpusSize = 500)
      })

    section(
      "semantic near-dups, multi-probe with primary-counted cap",
      "One corpus scan: the argmax-of-rounded-cosine posexplodes each row " +
        "to its p probe cells with a rank-1 flag; the size-cap aggregate " +
        "counts PRIMARIES (probes-independent, so probes=p keeps every " +
        "probes=1 cell) next to the total-membership guard; within-cell " +
        "pair join is keyed by cluster with the cap pre-filter — never " +
        "an uncapped self-join.",
      {
        val v = spark.read.parquet(s"$dir/embeddings.parquet")
        graft.ops.Similarity.semanticNearDups(
          v, "vec_id", "embedding", threshold = 0.3495,
          nClusters = 64, lloydIters = 0, corpusSize = Some(1), probes = 2)
      })

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("[plans] wrote PLANS.md")
    spark.stop()
  }
}
