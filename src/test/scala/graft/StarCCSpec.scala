package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StarCC (q57) — the O(log n)-round connected components that replaces
  * diameter-bound label propagation at crawl scale, finished on the driver
  * once the edge set is within `localMaxEdges`. Round-count tests pin the
  * distributed path with `localMaxEdges = 0` (or -1 where the edge set is
  * empty, which is within a bound of 0). */
class StarCCSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.ops.StarCC

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("256-node chain: correct labels in O(log n) rounds, not 256") {
    import spark.implicits._
    // the adversarial shape for label propagation: one path component of
    // diameter 255 (q47 would need ~255 rounds and trip its 50-round cap)
    val nodes = (0L until 256L).toDF("doc_id")
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, rounds) =
      StarCC.connectedComponents(nodes, chain, localMaxEdges = 0)
    assert(rounds <= 15, s"took $rounds rounds — not logarithmic")
    assert(labels.filter(col("cluster_rep") =!= 0L).count() == 0)
  }

  test("mixed forest: pairs, a triangle, singletons, duplicate+reversed edges") {
    import spark.implicits._
    val nodes = (1L to 12L).toDF("doc_id")
    val edges = Seq(
      (2L, 1L), (1L, 2L),           // pair, both orientations
      (4L, 3L), (4L, 3L),           // duplicate edge
      (5L, 6L), (6L, 7L), (7L, 5L), // triangle
      (9L, 9L)                      // self-loop must be ignored
    ).toDF("id1", "id2")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L,
      6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L, 10L -> 10L, 11L -> 11L,
      12L -> 12L)
    // both paths: the driver finish (default bound) and the star rounds
    for (bound <- Seq(StarCC.LocalMaxEdges, -1L)) {
      val (labels, _) =
        StarCC.connectedComponents(nodes, edges, localMaxEdges = bound)
      assert(labelMap(labels) == want, s"localMaxEdges $bound")
    }
  }

  test("empty edge set: every node is its own singleton") {
    import spark.implicits._
    val nodes = (1L to 5L).toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val (labels, rounds) =
      StarCC.connectedComponents(nodes, edges, localMaxEdges = -1)
    assert(rounds == 1)
    assert(labels.filter(col("cluster_rep") =!= col("doc_id")).count() == 0)
  }

  test("property: random graphs match a sequential union-find exactly") {
    import spark.implicits._
    // 20 random graphs across densities: sparse forests, dense blobs, and
    // everything between — the oracle is a 40-line in-memory union-find,
    // an implementation with nothing in common with the star rounds
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 20) {
      val n = 2 + rnd.nextInt(60)
      val nEdges = rnd.nextInt(2 * n)
      val edges = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val (labels, _) = StarCC.connectedComponents(
        (0L until n.toLong).toDF("doc_id"), edges.toDF("id1", "id2"),
        localMaxEdges = 0)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial (n=$n, edges=$edges)")
    }
  }

  test("1000-node chain pins the q47/q57 crossover: log rounds vs diameter cap") {
    import spark.implicits._
    import graft.ops.GovernanceOps
    // the SCALING.md crossover claim, made falsifiable: on one path
    // component of diameter 999 the star rounds stay logarithmic while
    // min-label propagation (q47's engine) is diameter-bound — it MUST
    // hit its round cap loudly, never return half-propagated labels
    val nodes = (0L until 1000L).toDF("doc_id")
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id1", "id2")

    val (labels, starRounds) =
      StarCC.connectedComponents(nodes, chain, localMaxEdges = 0)
    assert(starRounds <= 20,
      s"star CC took $starRounds rounds on a 1000-chain — not logarithmic")
    assert(labels.filter(col("cluster_rep") =!= 0L).count() == 0)

    val cap = intercept[IllegalStateException] {
      GovernanceOps.minLabelPropagation(nodes, chain, maxIters = 20)
    }
    assert(cap.getMessage.contains("not converged"))

    // and the positive side of the diameter bound: on a diameter-30 path
    // propagation converges, correctly, in >= diameter rounds — the round
    // count really is Θ(diameter), not an artifact of the cap
    val smallN = 31L
    val smallNodes = (0L until smallN).toDF("doc_id")
    val smallChain = (0L until smallN - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    val (propLabels, propRounds) =
      GovernanceOps.minLabelPropagation(smallNodes, smallChain)
    assert(propRounds >= 30,
      s"propagation took only $propRounds rounds on a diameter-30 path")
    assert(propLabels.filter(col("cluster_rep") =!= 0L).count() == 0)
  }

  test("driver finish: chain, star and empty edge set") {
    import spark.implicits._
    val chainNodes = (0L until 300L).toDF("doc_id")
    val chain = (0L until 299L).map(i => (i + 1, i)).toDF("id1", "id2")
    val (chainLabels, chainRounds) =
      StarCC.connectedComponents(chainNodes, chain)
    assert(chainRounds == 0, "a 299-edge chain is within the default bound")
    assert(labelMap(chainLabels) == (0L until 300L).map(_ -> 0L).toMap)

    // star centred on the LARGEST id: every leaf must point at the
    // smallest leaf, not at the centre
    val starNodes = (1L to 50L).toDF("doc_id")
    val star = (1L until 50L).map(i => (50L, i)).toDF("id1", "id2")
    val (starLabels, _) = StarCC.connectedComponents(starNodes, star)
    assert(labelMap(starLabels) == (1L to 50L).map(_ -> 1L).toMap)

    val nodes = (1L to 8L).toDF("doc_id")
    val (emptyLabels, emptyRounds) = StarCC.connectedComponents(
      nodes, Seq.empty[(Long, Long)].toDF("id1", "id2"))
    assert(emptyRounds == 0)
    assert(labelMap(emptyLabels) == (1L to 8L).map(i => i -> i).toMap)
  }

  test("crossing the bound mid-loop: some rounds, then the driver finish") {
    import spark.implicits._
    // dense random graph: the redundant edges contract away in the first
    // rounds, so a bound below the input size is met before convergence
    val rnd = new scala.util.Random(7L)
    val n = 400
    val edges = Seq.fill(3000)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .toDF("id1", "id2")
    val nodes = (0L until n.toLong).toDF("doc_id")
    val (want, distRounds) =
      StarCC.connectedComponents(nodes, edges, localMaxEdges = -1)
    val (got, rounds) =
      StarCC.connectedComponents(nodes, edges, localMaxEdges = 1000)
    assert(rounds >= 1, "the input is above the bound: rounds must run")
    assert(rounds < distRounds, s"no driver finish: $rounds of $distRounds")
    assert(labelMap(got) == labelMap(want))
  }

  test("property: driver finish and distributed rounds give identical labels") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // a few dense blobs plus sparse tails, with out-of-range endpoints:
    // ids outside `nodes` still connect the nodes they touch
    val graphGen = for {
      n <- Gen.choose(2, 80)
      m <- Gen.choose(0, 3 * n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n + 5L),
        Gen.choose(0L, n + 5L)))
    } yield (n, es)
    for (seed <- 1 to 12) {
      val (n, es) = graphGen.pureApply(Gen.Parameters.default, Seed(seed))
      val nodes = (0L until n.toLong).toDF("doc_id")
      val edges = es.toDF("id1", "id2")
      val (local, localRounds) = StarCC.connectedComponents(nodes, edges)
      val (dist, _) =
        StarCC.connectedComponents(nodes, edges, localMaxEdges = -1)
      assert(localRounds == 0)
      assert(labelMap(local) == labelMap(dist), s"seed $seed (n=$n, edges=$es)")
    }
  }

  test("q57 == q47 on the near-dup corpus (same labeling, different algorithm)") {
    val dir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q47_dedup_clusters")(spark, dir)
    val b = SparkEntry.queries("q57_star_clusters")(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
