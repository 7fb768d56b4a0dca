package graft

/** Runtime enforcement of the BOUNDED-LITERAL contract.
  *
  * A driver-side value that rides every task closure is right ONLY
  * while it is config-bounded: a trained tokenizer vocab is fixed by its
  * merge budget, a weight vector by its feature grid (the quality
  * scorer folds its weights into the plan as a literal,
  * `QualityQueries.weightsLit`). A decade probe PRICED the failure
  * mode: feeding a corpus-derived (Heaps-growing) vocabulary through
  * the literal-map encode measured decade slope 4.98 at the 1000x
  * linear-vocab adversary, where the broadcast-join form
  * (`q_bpe_encode_artifact`, vocab-as-sharded-table) stays at 0.50.
  * These guards fail fast before the plan is built, instead of melting
  * down at task dispatch. [[requireGrowingKeyDomain]] guards a second precondition:
  * a blocking key whose domain still grows with the corpus.
  */
object GraftLimits {

  /** Ceiling for a closure-shipped token vocabulary. Real trained
    * tokenizers are 32k–128k entries (fixed by the merge budget); a
    * corpus-derived vocabulary blows past this within the first shard.
    */
  val MaxLiteralVocab: Int = 1 << 17 // 131072

  /** Ceiling for a closure-shipped weight/feature vector — the model's
    * feature grid is a compile-time constant, orders of magnitude
    * below this.
    */
  val MaxLiteralWeights: Int = 4096

  /** Assert a vocabulary that is already on the driver (a loaded or
    * hand-built map) is tokenizer-bounded before it rides a task
    * closure. Returns the vocab so call sites stay expressions.
    */
  def requireBoundedVocab(vocab: Map[String, Long], what: String): Map[String, Long] = {
    require(vocab.size <= MaxLiteralVocab,
      s"$what: literal vocabulary has ${vocab.size} entries (cap $MaxLiteralVocab). " +
        "A corpus-derived (Heaps-growing) vocabulary must NOT ship as a task-closure " +
        "literal — a decade probe measured slope 4.98 for the literal-map " +
        "encode vs 0.50 for the vocab-as-table broadcast join. Persist the vocabulary " +
        "with ModelArtifacts.saveVocabFrame and join it instead (q_bpe_encode_artifact).")
    vocab
  }

  /** Ceiling for a dimension that a join hint-FORCES to broadcast:
    * 1 GiB of ESTIMATED plan size — two orders of magnitude above any
    * enum/artifact dim, well under Spark's own 8 GB forced-broadcast
    * hard-fail.
    */
  val MaxBroadcastDimBytes: BigInt = BigInt(1L << 30)

  /** Assert a dimension is artifact-sized before it is hint-broadcast
    * into a join. Uses Catalyst's plan-statistics estimate — a
    * driver-side check at plan construction, no job. A fact-scaled dim
    * must take a shuffle join or a pre-bucketed store instead.
    */
  def requireBoundedDim(dim: org.apache.spark.sql.DataFrame,
                        what: String): org.apache.spark.sql.DataFrame = {
    val est = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    require(est <= MaxBroadcastDimBytes,
      s"$what: dimension estimated at $est bytes (cap $MaxBroadcastDimBytes). " +
        "The dim is hint-FORCED to broadcast and Spark hard-fails forced broadcasts " +
        "at 8 GB — a fact-scaled dimension needs a shuffle join or a pre-bucketed " +
        "store, not a broadcast.")
    dim
  }

  /** Minimum corpus size before [[requireGrowingKeyDomain]] fires: at
    * fixture scales a low distinct-ratio is just small-sample noise;
    * past ~10⁶ rows it is structure.
    */
  val KeyDomainMinRows: Long = 1L << 20

  /** The distinct-per-row floor for a blocking key: below 0.01 the
    * AVERAGE block exceeds 100 rows, so a blocked self-join's pair
    * mass exceeds 100× the row count and grows ∝ N² once the key
    * domain has saturated — the suffix-key failure mode
    * `q_record_linkage2`'s scaladoc prices at ~10⁹ records (a 7-char
    * digit suffix has a ~10⁷ domain).
    */
  val KeyDomainMinDistinctPerRow: Double = 0.01

  /** BLOCKING-KEY SATURATION GUARD: assert
    * that a linkage/dedup blocking key's distinct-count still tracks
    * the corpus — i.e. its domain has NOT saturated. A blocking key
    * only bounds a blocked self-join while distinct(key) grows with N;
    * a saturating key (low-order chars, small enums) silently turns
    * the "blocked" join quadratic. This turns that precondition of
    * `LinkageQueries.linkagePairs2` into a check, making the
    * multi-pass blocking pattern self-policing like the vocab
    * collect gate above.
    *
    * Cost: ONE map-side-combined aggregate over the key expression
    * (count + approx_count_distinct — a column-pruned scan, no
    * shuffle beyond the 1-row partial merge), run eagerly at query
    * construction. The HLL estimate's ±2% error is noise against the
    * order-of-magnitude gap the guard looks for. Below [[KeyDomainMinRows]]
    * the ratio is measured but not enforced (small fixtures are all
    * noise). Returns `df` so call sites stay expressions.
    */
  def requireGrowingKeyDomain(df: org.apache.spark.sql.DataFrame,
                              key: org.apache.spark.sql.Column, what: String,
                              minDistinctPerRow: Double = KeyDomainMinDistinctPerRow,
                              minRows: Long = KeyDomainMinRows): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)).as("n"), approx_count_distinct(key).as("d")).head()
    val (n, d) = (r.getLong(0), r.getLong(1))
    if (n >= minRows)
      require(d >= minDistinctPerRow * n,
        s"$what: blocking key has ~$d distinct values over $n rows " +
          f"(ratio ${d.toDouble / n}%.5f, floor $minDistinctPerRow) — the key domain has " +
          "SATURATED, so average block size exceeds 1/floor rows and the blocked " +
          "self-join's pair mass grows quadratically from here. Swap this pass to a " +
          "higher-entropy key (phone/address hash — any field whose distinct-count " +
          "tracks the corpus); the pattern is the union of independently-blocked " +
          "passes, not this particular key (q_record_linkage2 scaladoc).")
    df
  }

  /** Assert `w` is feature-grid-sized before it rides a task closure. */
  def requireBoundedWeights(w: Seq[Long], what: String): Seq[Long] = {
    require(w.size <= MaxLiteralWeights,
      s"$what: literal weight vector has ${w.size} entries (cap $MaxLiteralWeights). " +
        "A weight vector is bounded by the model's fixed feature grid; anything larger " +
        "is a corpus-derived frame and must enter as a joined table, not a literal.")
    w
  }
}
