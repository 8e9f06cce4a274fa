package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Connected components by alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14 — public algorithm). Each round contracts every node toward
  * the minimum id reachable through its neighborhood, so the component
  * count of rounds is O(log n) for ANY graph shape — unlike min-label
  * propagation (q47), whose round count is the component DIAMETER and
  * which a single long-chain component (mirrored sites, quote chains)
  * stretches into hundreds of shuffles at crawl scale.
  *
  * Edge lists are kept canonical (id1 > id2, distinct, no self-loops);
  * both star steps preserve that orientation, so each round is two
  * groupBy-min + two join shuffles over the current edge set — no
  * per-node state table.
  *
  * The rounds pay for themselves only while the edge set is too big for
  * one machine. Once it holds at most [[LocalMaxEdges]] edges (checked on
  * the pinned canonical set and after every round, from the count the
  * witness computes anyway) the driver collects it and finishes with a
  * union-find; each further round would cost ~10 Spark jobs and buy
  * nothing.
  */
object StarCC {

  /** Edge count at or under which the components are finished on the
    * driver. A property of the input, not a workload switch. Driver memory
    * at the bound: about 72 MiB of primitive arrays (the collected edges
    * and their per-partition chunks, 16 MiB each; the sorted endpoint copy
    * and the distinct-id array, 16 MiB each; the Int parent array, 8 MiB
    * for at most 2^21 endpoints) plus the label rows of the local relation,
    * about 100 B for each of at most 2^20 non-root endpoints: under
    * 200 MiB at the bound, proportionally less below it. */
  val LocalMaxEdges: Long = 1L << 20

  /** Large-star: symmetrize, then connect every neighbor LARGER than u
    * to m(u) = min(N(u) ∪ {u}). Emitted pairs keep id1 > id2 (v > u ≥ m). */
  private[ops] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("id1").as("u"), col("id2").as("v"))
      .unionAll(e.select(col("id2").as("u"), col("id1").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("id1"), col("m").as("id2"))
      .distinct()
  }

  /** Small-star: orient larger→smaller, then connect every smaller
    * neighbor AND u itself to m(u) = min of the smaller neighborhood.
    * All emitted pairs (a, m) have a > m. */
  private[ops] def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("id1"), col("id2")).as("u"),
      least(col("id1"), col("id2")).as("v"))
    val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    dir.join(mins, Seq("u"))
      .select(col("v").as("a"), col("m"))
      .unionAll(mins.select(col("u").as("a"), col("m")))
      .filter(col("a") =!= col("m"))
      .select(col("a").as("id1"), col("m").as("id2"))
      .distinct()
  }

  /** Cheap per-round convergence witness: (count, Σid1, Σid2) in exact
    * decimal (id·count products overflow BIGINT at crawl scale). Both
    * star steps only move endpoints toward component minima, so a stable
    * triple across a full round means a stable edge set in practice; the
    * star-forest invariant check after the loop makes the result
    * certified, not assumed. */
  private def witness(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
    val r = e.agg(count(lit(1)),
      sum(col("id1").cast(DecimalType(38, 0))),
      sum(col("id2").cast(DecimalType(38, 0)))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO),
      Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Union-find over a canonical edge set packed as (id1, id2) pairs in
    * `packed`. Returns (doc_id, rep) for every endpoint that is not its
    * component's minimum. Endpoints map to a dense index by sorting the
    * distinct ids, so index order is id order; linking the larger root
    * under the smaller keeps every root at its component's minimum id —
    * the same label the star rounds converge to. Primitive arrays only. */
  private[ops] def localReps(packed: Array[Long]): Array[(Long, Long)] = {
    val ends = packed.clone()
    java.util.Arrays.sort(ends)
    var n = 0
    for (i <- ends.indices) if (i == 0 || ends(i) != ends(i - 1)) {
      ends(n) = ends(i); n += 1
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < packed.length) {
      val a = find(java.util.Arrays.binarySearch(ids, packed(i)))
      val b = find(java.util.Arrays.binarySearch(ids, packed(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    (0 until n).iterator.map(j => (j, find(j)))
      .collect { case (j, r) if r != j => (ids(j), ids(r)) }.toArray
  }

  /** Collect a canonical edge set as packed (id1, id2) longs, one primitive
    * array per partition. Recorded for the scan-count gate first. */
  private def collectEdges(e: DataFrame): Array[Long] =
    OpsKit.audited(e).rdd.mapPartitions { rows =>
      val b = Array.newBuilder[Long]
      rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator(b.result())
    }.collect().flatten

  /** Component label per node: (doc_id, cluster_rep) with cluster_rep =
    * the minimum doc_id in the node's component (itself for singletons).
    * Returns the labels plus the number of alternating rounds executed
    * (0 when the canonical edge set is already within `localMaxEdges`).
    *
    * `maxRounds` guards a logic bug, not a data shape — 30 rounds covers
    * any graph below 2^30 nodes with margin; hitting it fails LOUDLY
    * rather than returning unconverged labels that look like an answer.
    * `localMaxEdges` is the driver-finish bound ([[LocalMaxEdges]]); a
    * negative value forces the distributed rounds to convergence. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30,
      localMaxEdges: Long = LocalMaxEdges): (DataFrame, Int) = {
    // Lineage MUST be truncated each round: one star round references its
    // input ~6 times, so an un-checkpointed loop builds a 6^rounds-node
    // logical plan and the driver dies in the analyzer long before any
    // data moves (a cache() alone truncates only the physical plan).
    // localCheckpoint materializes the round's edges and restarts the
    // plan from the stored partitions; on a cluster where executor loss
    // matters, set a checkpoint dir and swap in reliable checkpoint().
    var e = pairs
      .filter(col("id1") =!= col("id2"))
      .select(greatest(col("id1"), col("id2")).as("id1"),
        least(col("id1"), col("id2")).as("id2"))
      .distinct().transform(OpsKit.pinned)
    var w = witness(e)
    var rounds = 0
    var converged = false
    while (!converged && w._1 > localMaxEdges) {
      if (rounds >= maxRounds) throw new IllegalStateException(
        s"star CC not converged after $maxRounds rounds (witness $w)")
      val next = OpsKit.pinned(smallStar(largeStar(e)))
      val w2 = witness(next)
      converged = w2 == w
      e = next
      w = w2
      rounds += 1
    }
    val reps =
      if (w._1 <= localMaxEdges) {
        val spark = nodes.sparkSession
        import spark.implicits._
        localReps(collectEdges(e)).toSeq.toDF("doc_id", "rep")
      } else {
        // Certify the star-forest invariant the witness only suggests: no
        // center is also a leaf (two hash joins' worth of work, once).
        val nonForest = e.alias("l")
          .join(e.alias("r"), col("l.id2") === col("r.id1"), "left_semi")
          .head(1)
        if (nonForest.nonEmpty) throw new IllegalStateException(
          s"star CC converged to a non-forest: leaf edge at ${nonForest.head}")
        e.groupBy(col("id1")).agg(min(col("id2")).as("rep"))
          .select(col("id1").as("doc_id"), col("rep"))
      }
    val labels = nodes.select(col("doc_id"))
      .join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
    (labels, rounds)
  }
}
