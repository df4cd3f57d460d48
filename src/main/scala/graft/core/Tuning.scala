package graft.core

/** Session-sizing heuristics shared by Bench and Verify. */
object Tuning {

  /** AQE wide-start (`spark.sql.adaptive.coalescePartitions.initialPartitionNum`)
    * sized to the input directory instead of a flat 512.
    *
    * History: a flat 512 fixed an r5 superlinear sf10 regression (100×
    * shuffle volume through `cpus` reducers spilled) but cost ~2× fixed
    * overhead on small many-stage queries; r7 sized it to
    * `inputBytes / 4 MB` (sf10 → 425). An r10 A/B of the two starts (sf10
    * ~1.7 GB) showed the 4 MB target had become pure overhead: after the
    * count-first candidate caps and the 8-B/shingle representation, EVERY
    * sf10 heavy runs as fast or faster at wide = 32 than at 425
    * (minhash 19.6 s vs 74.2 s, embedding_neardup 13.0 vs 19.2,
    * ngram_jaccard 14.3 vs 17.3, dedup_clusters 17.8 vs 20.0; none
    * spilled) — the eager-checkpoint pipelines run MANY stages, and a
    * wide start taxes each one with stage-scheduling overhead. Target
    * ≈64 MB of INPUT per initial partition instead (the explode-heavy
    * plans now carry ~1 byte of shuffle per input byte, not 16): the
    * bench legs land on `cpus`, and genuinely large inputs (≫100 GB, a
    * real cluster) still start wide, clamped at 512.
    */
  def wideStart(dir: String, cpus: Int): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    val b = bytes(new java.io.File(dir))
    math.max(cpus, math.min(512, (b / (64L << 20)).toInt))
  }
}
