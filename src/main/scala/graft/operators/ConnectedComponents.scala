package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Connected components over an undirected edge list — turns near-dup
  * PAIRS into dedup GROUPS (component id = min doc id in the group, i.e.
  * the keeper). The last stage of every dedup pipeline: pairs only tell
  * you who matches whom; retention needs one representative per group.
  *
  * Algorithm: hash-to-min label propagation — every node repeatedly
  * adopts the smallest label in its neighborhood (including its own).
  * Each iteration is one join + one aggregation (all key-partitioned
  * shuffles); the label space only shrinks, so convergence is monotone
  * and needs O(diameter) rounds — near-dup components are tiny cliques,
  * so a handful. This is the standard scalable CC for exactly this shape
  * (billions of nodes, small components); a giant-diameter graph would
  * want the large-star/small-star variant instead.
  *
  * Partition sizing: the pair graph is TINY relative to the corpus (only
  * near-dup docs appear), but an iterative loop pays per-partition fixed
  * costs ~6 shuffle stages × rounds times. With the session default
  * (= core count; AQE's parallelism-first coalescing keeps it there) the
  * loop was driver-overhead-bound — 47 s at local[32] vs 11 s at
  * local[4] on the same data. The loop therefore sizes its shuffles to
  * the measured edge count (~10k edges/partition, capped at the session
  * default), which is also the right rule on a 1000-executor cluster: a
  * billion-edge pair graph gets ~100k partitions' worth of real work,
  * a million-edge one doesn't get 100k near-empty tasks. The sized conf
  * lives in an isolated `newSession()` (same SparkContext), so
  * concurrent queries on the caller's session (parallel gate threads)
  * never see the graph-sized setting.
  *
  * Driver round-trips: each iteration is ONE job — the convergence
  * checksum rides the checkpoint materialization as an `observe()`
  * metric instead of a second `agg().head()` action. On a large cluster
  * every extra action is a scheduler round-trip × O(log d) iterations.
  */
object ConnectedComponents {

  /** Edge count at or below which the graph is solved on the driver
    * instead of iterating cluster jobs — the broadcast-join analogy:
    * Spark ships ≤10 MB tables to the driver for broadcast; 100k edges
    * is 1.6 MB of id pairs, and union-find resolves them in
    * milliseconds where the distributed loop pays O(log d) scheduler
    * round-trips. Near-dup pair graphs at petabyte corpus scale exceed
    * this immediately (the 10× fixture replica's ngram pair graph is
    * already 248k edges — see PLANS.md), so the loop stays the
    * production path; the gate only short-circuits genuinely tiny
    * graphs (the sf0.1 fixtures: 256 and 92 edges).
    */
  val DriverMaxEdges = 100000L

  /** pairs(aCol, bCol) → (id, component) for every endpoint, where
    * component = min id reachable. Deterministic.
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIter: Int = 20,
                 driverMaxEdges: Long = DriverMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    // materialize the (expensive) upstream pair pipeline exactly once, at
    // the session's normal parallelism; everything after is graph-sized
    val pairsCp0 = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint(true)
    val nPairs = pairsCp0.count() // cheap: counts the checkpointed partitions
    val longIds = pairsCp0.schema.fields.forall(_.dataType == LongType)
    if (longIds && nPairs <= driverMaxEdges) {
      System.err.println(s"[graft.cc] $nPairs edges <= $driverMaxEdges: driver union-find")
      return driverComponents(spark, pairsCp0)
    }
    System.err.println(s"[graft.cc] $nPairs edges: distributed hash-to-min loop")
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nPairs / 5000L + 1L)).toInt
    // graph-sized shuffles, isolated from the caller's session: the loop
    // runs on a twin session holding the sized conf; the checkpointed
    // pair leaf transplants across sessions safely
    val loopSession = spark.newSession()
    loopSession.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val pairsCp = GraftShim.rebind(loopSession, pairsCp0)
    // symmetric edge list, co-located on the join key
    val edges = pairsCp.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairsCp.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .repartition(parts, col("dst"))
      .localCheckpoint(true)
    // localCheckpoint (not persist!) each round: an iterative join loop
    // grows the LOGICAL plan exponentially (each round references the
    // previous frame several times), and plan-string construction alone
    // OOMs after ~8 rounds; checkpointing truncates lineage to a leaf.
    // labels only decrease, so an unchanged checksum is a join-free
    // convergence signal; it is observed DURING the checkpoint job.
    val obs0 = new Observation("cc_init")
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .observe(obs0, sum(col("component")).as("s"))
      .localCheckpoint(true)
    def observedSum(o: Observation): Long =
      Option(o.get.getOrElse("s", null)).map(_.asInstanceOf[Long]).getOrElse(0L)
    var prevSum = observedSum(obs0)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // each node's new label: min over own label and neighbors' labels
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("component"))
      val propagated = labels.unionAll(neighborLabels)
        .groupBy("id").agg(min(col("component")).as("component"))
        .persist() // read twice below (main side + parents side)
      // pointer jumping: adopt the label OF the label node — doubles the
      // propagation distance per round, so convergence is O(log diameter)
      // instead of O(diameter) (a plain neighbor walk stalls on chains)
      val parents = propagated
        .select(col("id").as("component"), col("component").as("parent"))
      val obs = new Observation(s"cc_iter_$iter")
      val next = propagated.join(parents, "component")
        .select(col("id"), least(col("component"), col("parent")).as("component"))
        .observe(obs, sum(col("component")).as("s"))
        .localCheckpoint(true) // materializes + truncates lineage (one job)
      val nextSum = observedSum(obs)
      propagated.unpersist()
      labels = next
      converged = prevSum == nextSum
      prevSum = nextSum
      iter += 1
    }
    // hand the (checkpointed, leaf-plan) result back on the caller's
    // session so downstream ops run under the caller's conf
    GraftShim.rebind(spark, labels)
  }

  /** Driver-side union-find for graphs under [[DriverMaxEdges]].
    * Union-by-min keeps each set's root equal to its minimum id (a
    * union links the larger root under the smaller), so after path
    * compression `find(x)` IS the component label — identical output
    * to the distributed loop, including on an empty edge set.
    */
  private def driverComponents(spark: SparkSession, pairsCp: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairsCp.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    spark.createDataFrame(out).toDF("id", "component")
  }
}
