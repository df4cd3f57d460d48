package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Condition, DataRef, ParquetSource}
import graft.ops.{Similarity, Stats}

/** Physical-plan assertions for the scale-critical properties: predicate
  * pushdown and column pruning reach the parquet scan, small sides broadcast,
  * and no operator relies on a single-partition (global-sort) window.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"

  test("selection pushes filter and projection into the parquet scan") {
    val sel = DataRef(
      ParquetSource(s"$dir/lineitem.parquet"),
      Some(Seq("l_orderkey", "l_quantity")),
      Some(Condition.raw("l_quantity > 45"))).selection(spark)
    val scan = sel.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("l_comment"),
      s"columns not pruned:\n$scan")
  }

  test("brute-force top-k broadcasts the query side, not the corpus") {
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = vectors.where(col("vec_id") < 3)
    val plan = Similarity
      .bruteForceTopK(vectors, queries, "vec_id", "embedding", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"no broadcast in plan:\n$plan")
  }

  test("CDF / percentile plans contain no global (unpartitioned) window") {
    val r1 = DataRef(ParquetSource(s"$dir/lineitem.parquet"), Some(Seq("l_extendedprice")))
    val cdf = Stats.cdfSelection(spark, r1, "v", "cdf")
    val globalWindows = cdf.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"found ${globalWindows.size} unpartitioned window(s) — single-partition sort at scale")
  }

  test("trimmed mean / concentration / bootstrap plans stay partition-safe") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // trimmed mean rides the bucketed prefix-sum scheme — per-bucket
    // windows only, the plan the exact-percentile path pins too
    val tm = Stats.trimmedMean(li, "l_extendedprice", 0.1, 100L)
    assert(tm.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty, "trimmedMean planned an unpartitioned window")
    // concentration ranks via the bucketed global rank — same guarantee
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val conc = Stats.concentrationProfile(docs, "source", "n_chars")
    assert(conc.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty, "concentrationProfile planned an unpartitioned window")
    // bootstrap: the ONLY window ranks the nResamples replicate means —
    // bounded rows by construction; the data-sized path is pure aggregate
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val boot = Stats.bootstrapMeanCI(ev, "event_id", "value", nResamples = 20)
    val wins = boot.queryExecution.executedPlan.collect { case w: WindowExec => w }
    assert(wins.size <= 1, s"bootstrap planned ${wins.size} windows")
  }

  test("corpus-prep plans: broadcast decontamination, shuffle-free mix, salted sample") {
    import graft.ops.Corpus
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // eval-set gram join must broadcast the (small) eval side — the corpus
    // gram stream is never shuffled
    val deconPlan = Corpus
      .decontaminate(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0),
        "text", "doc_id", n = 5)
      .queryExecution.executedPlan.toString
    assert(deconPlan.contains("BroadcastHashJoin"),
      s"eval grams not broadcast:\n$deconPlan")

    // weightedMix is a pure per-row membership filter + union: no exchange
    val mixPlan = Corpus
      .weightedMix(
        Seq(
          ("a", docs.where(col("doc_id") % 2 === 0), 0.5),
          ("b", docs.where(col("doc_id") % 2 === 1), 0.25)),
        "doc_id", tagCol = "mix_source")
      .queryExecution.executedPlan.toString
    assert(!mixPlan.contains("Exchange"),
      s"weightedMix should be shuffle-free:\n$mixPlan")

    // stratifiedSample: both ranking windows carry a partitionSpec (the
    // salt keys phase 1; phase 2 ranks only survivors)
    val sampled = Corpus.stratifiedSample(
      docs.select(col("doc_id"), (col("doc_id") % 7).as("stratum")),
      "stratum", "doc_id", k = 3)
    val globalWindows = sampled.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "stratifiedSample must not use a global window")
  }

  test("bucket_index canonicalizes by boundary CONTENT (CSE / exchange reuse)") {
    import graft.functions.BucketIndex
    import org.apache.spark.sql.GraftBridge
    val child = GraftBridge.toExpression(col("v").cast("double"))
    // separately-built but equal boundary seqs: an Array-typed field would
    // compare by reference and defeat common-subexpression elimination
    val a = BucketIndex(child, Seq(1.0, 2.0, 3.0).toIndexedSeq)
    val b = BucketIndex(child, Seq(1.0, 2.0, 3.0).map(identity).toIndexedSeq)
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.canonicalized == b.canonicalized)
    assert(a != BucketIndex(child, IndexedSeq(1.0, 2.5, 3.0)))
  }

  test("IVF centroid seeding is a hash sample + distributed top-k, no window") {
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = Similarity
      .ivfCentroids(vectors, "vec_id", "embedding", 16, corpusSize = 1000000L)
      .queryExecution.executedPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      s"centroid seeding must not sort the corpus through a window:\n$plan")
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"expected a distributed top-k for the id cap:\n$plan")
  }

  test("LSH bucketing key is the native plane_sign_bits kernel on both sides") {
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = vectors.where(col("vec_id") < 3)
    val plan = Similarity
      .lshTopK(vectors, queries, "vec_id", "embedding", 2)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("plane_sign_bits"), s"native LSH key kernel missing:\n$plan")
    assert(!plan.toString.contains("zip_with"),
      s"interpreted HOF dot crept back into the bucketing key:\n$plan")
  }

  test("session posture: AQE + skew-join + skewed-partition rebalance stay enabled") {
    // the 100x-scale posture must not be config-dependent: every graft
    // session inherits Spark's adaptive defaults (Verify/Bench additionally
    // START shuffles wide via adaptive.coalescePartitions.initialPartitionNum
    // and let AQE coalesce — a timing-only knob; the library itself never
    // disables anything) — pin the defaults so a future config "tweak" that
    // silently disables runtime skew handling fails loudly here
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
  }

  test("1-D overlap count path is one key-partitioned window, no self-join") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(
        col("l_orderkey"),
        col("l_shipdate"),
        date_add(col("l_shipdate"), 5).as("dj_end"))
    val ref = DataRef(graft.core.FrameSource(df, "li_intervals"))
    val qe = graft.ops.Intervals
      .overlapFlags1D(spark, ref, Seq("l_orderkey"), "l_shipdate", "dj_end",
        endIncluded = true)
      .queryExecution
    assert(
      !qe.optimizedPlan.toString.contains("Join"),
      s"the 1-D overlap count must not self-join:\n${qe.optimizedPlan}")
    // string-level because AQE's wrapper hides children from collect()
    val physical = qe.executedPlan.toString
    // both window functions (running max + duplicate lag) share one sort:
    // a single Window node, not a window per function
    val windowNodes = "\\bWindow \\[".r.findAllIn(physical).size
    assert(windowNodes == 1, s"expected ONE fused window node, got $windowNodes:\n$physical")
    assert(physical.contains("windowspecdefinition(l_orderkey"),
      s"window must be key-partitioned:\n$physical")
  }

  test("2-D overlap clean-key sweep: one key exchange + sort + mapPartitions, no self-join") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(
        col("l_orderkey"),
        col("l_shipdate").cast("timestamp").cast("double").as("s1"),
        (col("l_shipdate").cast("timestamp").cast("double") + 86400 * 5).as("e1"),
        col("l_quantity").cast("double").as("s2"),
        (col("l_quantity") + 10.0).cast("double").as("e2"))
    val qe = graft.ops.Intervals
      .sweep2DFlags(df, Seq("l_orderkey"), "s1", "e1", "s2", "e2", endIncluded = true)
      .queryExecution
    assert(
      !qe.optimizedPlan.toString.contains("Join"),
      s"the 2-D overlap count sweep must not self-join:\n${qe.optimizedPlan}")
    val physical = qe.executedPlan.toString
    assert(physical.contains("hashpartitioning(l_orderkey"),
      s"sweep must exchange on the key:\n$physical")
    assert("Exchange hashpartitioning".r.findAllIn(physical).size == 1,
      s"exactly one shuffle in the sweep plan:\n$physical")
  }

  test("N-D overlap clean-key sweep: one key exchange + sort + mapPartitions, no self-join") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(
        col("l_orderkey"),
        col("l_shipdate").cast("timestamp").cast("double").as("s1"),
        (col("l_shipdate").cast("timestamp").cast("double") + 86400 * 5).as("e1"),
        col("l_quantity").cast("double").as("s2"),
        (col("l_quantity") + 10.0).cast("double").as("e2"),
        col("l_suppkey").cast("double").as("s3"),
        (col("l_suppkey") + 3.0).cast("double").as("e3"))
    val qe = graft.ops.Intervals
      .sweepNDFlags(df, Seq("l_orderkey"), Seq("s1", "s2", "s3"),
        Seq("e1", "e2", "e3"), endIncluded = true)
      .queryExecution
    assert(
      !qe.optimizedPlan.toString.contains("Join"),
      s"the N-D overlap count sweep must not self-join:\n${qe.optimizedPlan}")
    val physical = qe.executedPlan.toString
    assert(physical.contains("hashpartitioning(l_orderkey"),
      s"sweep must exchange on the key:\n$physical")
    assert("Exchange hashpartitioning".r.findAllIn(physical).size == 1,
      s"exactly one shuffle in the sweep plan:\n$physical")
  }

  test("keyed gap sweep: one key exchange, no rank join") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey"), col("l_quantity").as("s_num"),
        (col("l_quantity") + 2.0).as("e_num"))
    val qe = graft.ops.Intervals
      .gapViolations(spark, DataRef(graft.core.FrameSource(df, "qty_intervals")),
        Seq("l_suppkey"), "s_num", "e_num", graft.ops.Intervals.numericGapCondition(3.0))
      .queryExecution
    assert(!qe.executedPlan.toString.contains("Join"),
      s"the keyed gap sweep must not join:\n${qe.executedPlan}")
    val physical = qe.executedPlan.toString
    assert("Exchange ".r.findAllIn(physical).size == 1,
      s"exactly one shuffle in the keyed gap plan:\n$physical")
    assert(physical.contains("Exchange hashpartitioning(l_suppkey"),
      s"the one shuffle must be on the key:\n$physical")
  }

  test("DSIR resample plans a distributed top-k, not a corpus-wide rank window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qe = graft.ops.Dsir
      .resample(docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
        k = 20, nBuckets = 64)
      .queryExecution
    val physical = qe.executedPlan.toString
    assert(physical.contains("TakeOrderedAndProject"),
      s"the selection must collapse to a per-partition-heap top-k:\n$physical")
    // the only Window is the k-bounded rank over the top-k result — it
    // must sit ABOVE the TakeOrderedAndProject, never below it (below =
    // every doc through one reducer)
    val winIdx = physical.indexOf("Window")
    val topIdx = physical.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && topIdx > winIdx,
      s"rank window must consume the top-k output, not the corpus:\n$physical")
  }

  test("embedding near-dup candidates come from banded capped buckets, not a key self-join") {
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet")
    val qe = Similarity
      .embeddingNearDups(vectors, "vec_id", "embedding", threshold = 0.35)
      .queryExecution
    val optimized = qe.optimizedPlan.toString
    // candidate generation runs eagerly into a measured pair checkpoint;
    // the final plan must verify from that LogicalRDD with the PAIR side
    // as the broadcast/build side — never broadcast or array-materialize
    // the corpus' vectors
    assert(!optimized.contains("collect_list"),
      s"bucket id-array materialization crept back in:\n$optimized")
    assert(optimized.contains("LogicalRDD"),
      s"candidates must come from the measured pair checkpoint:\n$optimized")
    assert(optimized.contains("strategy=broadcast"),
      s"the pair side must be the broadcast side of verification:\n$optimized")
    // the sign-bit key itself (hidden behind the eager banded checkpoint in
    // the final plan) must stay the native codegen'd kernel
    val keyPlan = vectors
      .select(Similarity.lshKey(col("embedding"), Similarity.hyperplanes(32, 64)))
      .queryExecution.optimizedPlan.toString
    assert(keyPlan.contains("plane_sign_bits"),
      s"native sign-bit kernel missing from the near-dup key:\n$keyPlan")
  }

  test("LSH candidate machinery is count-first capped, no id-array materialization") {
    import spark.implicits._
    val buckets = Seq((1L, 0, 10L), (2L, 0, 10L), (3L, 1, 11L))
      .toDF("doc_id", "band", "bucket")
    val plan = graft.ops.Dedup
      .lshCandidatePairs(buckets, "doc_id")
      .queryExecution.optimizedPlan.toString
    // the cap must filter bucket KEYS off a count aggregate; a
    // collect_list would buffer a hot bucket before any size check
    assert(plan.contains("dj_bn"), s"count-first size filter missing:\n$plan")
    assert(!plan.contains("collect_list"), s"id-array materialization:\n$plan")
  }

  test("degenerate verification path is sort-merge (spillable), not shuffle-hash") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val sides = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "payload")
    // cap 0 forces the huge-candidate-set path: the join must be able to
    // SPILL — a shuffle-hash build died at the 100× bench leg ("Can't
    // acquire ... bytes memory to build hash relation")
    val plan = graft.ops.Dedup
      .verifyPairs(pairs, nCand = 2L, sides, sides, "doc_id",
        Seq("payload" -> "p"), broadcastableCandidates = 0L)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"degenerate verify must sort-merge join:\n$plan")
    assert(!plan.contains("ShuffledHashJoin"),
      s"non-spillable hash build crept back into verification:\n$plan")
  }

  test("ngram-jaccard df cap is count-first, never a window over the shingle key") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.ops.Dedup
      .ngramJaccardPairs(docs, "text", "doc_id")
      .queryExecution
    val physical = qe.executedPlan.toString
    // a window over ckey funnels every copy of a hot boilerplate shingle
    // through one reducer (no AQE skew help for windows); the groupBy df
    // count gets map-side combine and the cap filters bucket KEYS
    assert(physical.contains("partial_count") || physical.contains("dj_df"),
      s"count-first df cap missing:\n$physical")
    assert(!physical.contains("windowspecdefinition(ckey"),
      s"shingle-key window crept back into the ngram df cap:\n$physical")
  }

  test("paragraph dedup first-occurrence is a partial aggregate, not a fingerprint window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.ops.Dedup
      .dedupParagraphs(docs, "text", "doc_id")
      .queryExecution
    // a window over the fingerprint would shuffle EVERY copy of a hot
    // boilerplate paragraph to one reducer; the groupBy min gets map-side
    // combine (partial_min before the exchange)
    val physical = qe.executedPlan.toString
    assert(physical.contains("partial_min"),
      s"first-occurrence must partial-aggregate before the shuffle:\n$physical")
    assert(!physical.contains("windowspecdefinition(dj_fp"),
      s"fingerprint window crept into paragraph dedup:\n$physical")
  }

  test("span dedup first-occurrence partial-aggregates; sweep window is doc-partitioned") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.ops.Dedup
      .duplicatedSpans(docs, "text", "doc_id")
      .queryExecution
    val physical = qe.executedPlan.toString
    // a window over the fingerprint would funnel every copy of a hot
    // boilerplate window through one reducer; the groupBy min must get
    // map-side combine
    assert(physical.contains("partial_min"),
      s"first-occurrence must partial-aggregate before the shuffle:\n$physical")
    assert(!physical.contains("windowspecdefinition(dj_fp"),
      s"fingerprint window crept into span dedup:\n$physical")
    // the interval-union sweep partitions by document id, never globally
    assert(physical.contains("windowspecdefinition(doc_id"),
      s"span sweep must be a doc-partitioned window:\n$physical")
  }

  test("semantic near-dup candidates come from capped clusters, no raw self-join") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val pairs = graft.ops.Similarity.semanticNearDups(
      vecs, "vec_id", "embedding", threshold = 0.35,
      nClusters = 16, lloydIters = 0, maxClusterSize = 100,
      corpusSize = Some(1))
    val optimized = pairs.queryExecution.optimizedPlan.toString
    // candidate generation runs eagerly into a measured pair checkpoint;
    // verification must read from that LogicalRDD and never materialize a
    // cluster's members as an array or cross-join the corpus
    assert(optimized.contains("LogicalRDD"),
      s"candidates must come from the measured pair checkpoint:\n$optimized")
    assert(!optimized.contains("collect_list"),
      s"cluster id-array materialization crept in:\n$optimized")
    assert(!optimized.contains("Join Cross") && !optimized.contains("CartesianProduct"),
      s"cartesian product crept into semantic near-dups:\n$optimized")
  }

  test("dedup spread repartitions an under-split corpus up to defaultParallelism") {
    val docs = spark.read.parquet(s"$dir/documents.parquet") // single split
    // minhashed materializes the shingle frame eagerly (localCheckpoint);
    // the spread must have widened the single-split scan to
    // defaultParallelism BEFORE the shingle kernel ran, which the
    // checkpoint's partition count records
    val shingled = graft.ops.Dedup.minhashed(docs, "text", "doc_id")
    val parts = shingled.rdd.getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism,
      s"single-split scan must spread to >= defaultParallelism, got $parts")
  }

  test("minhash verification plan uses the native kernels, not boxed set ops") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.ops.Dedup
      .minhashNearDups(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("jaccard_sorted_long"), s"jaccard kernel missing:\n$plan")
    assert(plan.contains("matching_fraction_long"), s"est kernel missing:\n$plan")
    assert(!plan.contains("array_intersect"), "boxed set intersection crept back in")
    spark.catalog.clearCache()
  }

  test("exact dedup evaluates the fingerprint once per row, no join, no global window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.ops.Dedup.dedupExact(docs, "text", "doc_id").queryExecution
    val optimized = qe.optimizedPlan.toString
    val md5Count = "md5\\(".r.findAllIn(optimized).size
    assert(md5Count == 1, s"expected one md5 evaluation, found $md5Count:\n$optimized")
    assert(!optimized.contains("Join"), s"self-join crept back into exact dedup:\n$optimized")
    val globalWindows = qe.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "dedup window must be fingerprint-partitioned")
  }

  test("simhash sketch plan has no explode-shuffle (zero-shuffle projection)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sketch = docs
      .where(col("text").isNotNull)
      .select(graft.functions.SimHash64.simhash64(
        graft.ops.TextAnalysis.tokens(col("text"))).as("simhash"))
    val physical = sketch.queryExecution.executedPlan.toString
    assert(physical.contains("simhash64"), physical)
    assert(!physical.contains("Exchange"), s"sketch must not shuffle:\n$physical")
    assert(!physical.contains("Generate"), s"sketch must not explode:\n$physical")
  }

  test("fused cross-CDF plan shuffles once for both samples' counts") {
    val r1 = DataRef(ParquetSource(s"$dir/lineitem.parquet"), Some(Seq("l_extendedprice")),
      Some(Condition.raw("l_returnflag = 'R'")))
    val r2 = DataRef(ParquetSource(s"$dir/lineitem.parquet"), Some(Seq("l_extendedprice")),
      Some(Condition.raw("l_returnflag = 'A'")))
    val cross = Stats.crossCdf(spark, r1, r2, "val", "cdf")
    val plan = cross.queryExecution.executedPlan
    // no unpartitioned window anywhere in the fused plan
    val globalWindows = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globalWindows.isEmpty, s"global window in fused cross-CDF:\n$plan")
    // no full-outer join — the union-tag groupBy replaces it
    assert(!plan.toString.contains("FullOuter"), s"full-outer join crept back:\n$plan")
    spark.catalog.clearCache()
  }

  test("CumSum bucket assignment is the codegen'd binary search, not a HOF lambda") {
    val counts = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_extendedprice").as("v")).agg(count(lit(1)).as("cnt"))
    val running = graft.ops.CumSum.withRunningSum(counts, "v", "cnt", "run")
    val plan = running.queryExecution.optimizedPlan.toString
    assert(plan.contains("bucket_index"), s"bucket_index missing:\n$plan")
    assert(!plan.contains("aggregate(") || !plan.contains("lambdafunction(.*dj_bucket"),
      s"interpreted bucket lambda still present:\n$plan")
  }

  test("row-count aggregate is a partial-final pair (map-side combine)") {
    val plan = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no partial aggregation:\n$plan")
  }

  test("boilerplate removal: group counts broadcast, no nested loop, no global window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.ops.Dedup
      .removeBoilerplate(docs, "text", "doc_id", delimiter = " ",
        minDocFraction = 0.9, groupCol = Some("source"))
      .queryExecution
    val physical = qe.executedPlan.toString
    assert(physical.contains("BroadcastExchange"),
      s"group doc counts not broadcast:\n$physical")
    assert(!physical.contains("BroadcastNestedLoopJoin") &&
      !physical.contains("CartesianProduct"), s"nested loop:\n$physical")
    val globalWindows = qe.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "global window in boilerplate plan")
  }

  test("CMS estimate joins the sketch via broadcast, never shuffling probes wide") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("text").isNotNull)
      .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
    val plan = graft.ops.Sketches
      .cmsEstimate(
        graft.ops.Sketches.cmsSketch(toks, "tok", 4, 64),
        toks.limit(3), "tok", 4, 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"sketch join not broadcast:\n$plan")
  }

  test("range join plans as a hash equi-join with the residual as join filter") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    def day(c: org.apache.spark.sql.Column) =
      datediff(c, lit("1970-01-01")).cast("long")
    val plan = graft.ops.RangeJoin
      .rangeJoin(
        orders.select(col("o_orderkey").as("pid"), day(col("o_orderdate")).as("p")),
        orders.where(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey").as("iid"),
            day(col("o_orderdate")).as("s"),
            (day(col("o_orderdate")) + lit(5)).as("e")),
        "p", "s", "e")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"non-equi fallback:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a hash/merge equi-join:\n$plan")
  }

  test("JSON extraction stays a single projection (no UDF, no shuffle before the agg)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val qe = graft.ops.SemiStructured
      .withParsedJson(ev, "props", "k INT")
      .queryExecution
    val physical = qe.executedPlan.toString
    assert(physical.contains("from_json"), s"from_json missing:\n$physical")
    assert(!physical.contains("Exchange"), s"unexpected shuffle:\n$physical")
    assert(!physical.contains("BatchEvalPython") && !physical.contains("SQLUDF"),
      s"UDF crept in:\n$physical")
  }

  test("drift/rank additions plan no unpartitioned windows; zipf ranks after a top-k") {
    import graft.ops.{Corpus, Drift, Profile}
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def noGlobalWindow(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val g = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(g.isEmpty,
        s"$name plans ${g.size} unpartitioned window(s) — single-partition sort at scale")
    }
    val even = li.where(col("l_orderkey") % 2 === 0)
    val odd = li.where(col("l_orderkey") % 2 === 1)
    noGlobalWindow(
      Drift.wasserstein1(even, odd, "l_extendedprice", 100L), "wasserstein1")
    noGlobalWindow(Stats.cvm2Sample(even, odd, "l_quantity"), "cvm2Sample")
    noGlobalWindow(
      Stats.aucExact(docs, "n_chars", col("lang") === "en"), "aucExact")
    noGlobalWindow(
      Corpus.epochShuffle(docs.select(col("doc_id")), "doc_id", "s", 1),
      "epochShuffle")
    noGlobalWindow(
      Stats.ksByGroup(even, odd, "l_extendedprice", "l_returnflag", 100L),
      "ksByGroup")
    noGlobalWindow(
      Profile.groupTopK(docs, "lang", "source", k = 2), "groupTopK")
    noGlobalWindow(
      Corpus.capPerGroup(docs, "source", "n_chars", "doc_id", cap = 5),
      "capPerGroup")
    // zipf's rank window is k-bounded BECAUSE a distributed top-k feeds it
    // (the DSIR resample posture) — pin the TakeOrderedAndProject
    val zp = Corpus.zipfSlope(docs, "text", topK = 100)
      .queryExecution.executedPlan.toString
    assert(zp.contains("TakeOrderedAndProject"),
      s"zipf top-k did not collapse to TakeOrderedAndProject:\n$zp")
  }

  test("embeddingNearDupsAuto: bit-identical to the counted spelling, no extra scan job") {
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var auto: Set[(Long, Long)] = null
    var manual: Set[(Long, Long)] = null
    // the r10 gate spelling: an external count() scan just to size the key
    val manualJobs = countJobs {
      manual = rows(Similarity.embeddingNearDups(
        vectors, "vec_id", "embedding", threshold = 0.3495,
        bits = Similarity.nearDupBits(vectors.count())))
    }
    val autoJobs = countJobs {
      auto = rows(Similarity.embeddingNearDupsAuto(
        vectors, "vec_id", "embedding", threshold = 0.3495))
    }
    // prefix property: the wide-key slices select the same planes the
    // narrow key would compute, so the pair sets match exactly
    assert(auto === manual, "auto flavor diverged from the counted spelling")
    assert(autoJobs <= manualJobs,
      s"auto flavor should not run MORE jobs than count+explicit ($autoJobs vs $manualJobs)")
    // with the hint supplied, even the compact-checkpoint count disappears
    val n = vectors.count()
    val hintedJobs = countJobs {
      auto = rows(Similarity.embeddingNearDupsAuto(
        vectors, "vec_id", "embedding", threshold = 0.3495,
        corpusSize = Some(n)))
    }
    assert(auto === manual, "hinted auto flavor diverged")
    assert(hintedJobs < manualJobs,
      s"the corpusSize hint must drop a job ($hintedJobs vs $manualJobs)")
  }
}
