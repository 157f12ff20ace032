package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphAnnSpec extends SparkSpec {

  private val fixture: Map[Long, Seq[Int]] = Map(
    // two clusters along orthogonal axes: exact kNN by integer dot
    // stays within a node's own cluster
    1L -> Seq(10, 0), 2L -> Seq(11, 0), 3L -> Seq(12, 0), 4L -> Seq(9, 1),
    5L -> Seq(0, 10), 6L -> Seq(0, 11), 7L -> Seq(1, 9), 8L -> Seq(0, 12))

  private def codesDf = {
    import spark.implicits._
    fixture.toSeq.sortBy(_._1).toDF("vec_id", "code")
  }

  private def bruteTopK(q: Long, k: Int): Seq[Long] =
    fixture.toSeq.filter(_._1 != q)
      .map { case (id, c) =>
        (id, fixture(q).zip(c).map { case (a, b) => a.toLong * b }.sum)
      }
      .sortBy { case (id, d) => (-d, id) }.take(k).map(_._1)

  test("ringInitEdges: no self edges, bounded outdegree, all nodes covered") {
    import spark.implicits._
    val e = GraphAnn.ringInitEdges(codesDf, "vec_id", k = 3, buckets = 2)
      .as[(Long, Long)].collect()
    assert(e.forall { case (s, d) => s != d })
    val out = e.groupBy(_._1).view.mapValues(_.length)
    assert(fixture.keySet.subsetOf(out.keys.toSet))
    assert(out.values.forall(_ <= 3))
  }

  test("nnDescent converges to the exact kNN graph on a small corpus") {
    import spark.implicits._
    val got = GraphAnn.nnDescent(codesDf, "vec_id", "code",
        k = 3, rounds = 3, buckets = 2)
      .select("src", "rn", "dst")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    fixture.keys.foreach { id =>
      assert(got(id) === bruteTopK(id, 3), s"node $id")
    }
  }

  test("deleteNodes splices through deleted nodes, edges keep (src,dst) order") {
    import spark.implicits._
    // degree 4 so every node carries a cross-cluster edge — repair is
    // LOCAL (kept ∪ splice-through-deleted), so exact-kNN recovery
    // needs the candidates to cover the exact set
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2).select(col("src"), col("dst"))
    // delete node 3 (cluster A's best) and node 8 (cluster B's best)
    val del = Seq(3L, 8L).toDF("vec_id")
    val repaired = GraphAnn.deleteNodes(graph, codesDf, del,
        "vec_id", "code", k = 3)
      .select("src", "rn", "dst")
      .as[(Long, Long, Long)].collect()
    // no deleted node appears on either side
    assert(repaired.forall { case (s0, _, d) =>
      s0 != 3L && s0 != 8L && d != 3L && d != 8L })
    // the repaired lists are the exact kNN over the LIVE corpus —
    // splice candidates suffice on this fixture (and a positional
    // src/dst swap, the bug this spec pins, would break it)
    val live = fixture -- Seq(3L, 8L)
    def bt(q: Long): Seq[Long] =
      live.toSeq.filter(_._1 != q)
        .map { case (id, c) =>
          (id, fixture(q).zip(c).map { case (a, b) => a.toLong * b }.sum)
        }.sortBy { case (id, d) => (-d, id) }.take(3).map(_._1)
    val got = repaired.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    live.keys.foreach { id => assert(got(id) === bt(id), s"node $id") }
  }

  test("beamServe finds the exact top-k through the graph") {
    import spark.implicits._
    // degree 4 in a 4+4-cluster world forces one cross-cluster edge
    // per node, keeping the DIRECTED graph connected — the degree-vs-
    // connectivity tradeoff every graph-ANN deployment tunes (k = 3
    // here yields two disconnected 4-cliques and the beam provably
    // cannot cross; graphs must be built with enough degree)
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2)
    val served = GraphAnn.beamServe(
        codesDf.filter(col("vec_id").isin(1L, 6L)), graph, codesDf,
        "vec_id", "code", entryK = 2, beam = 6, steps = 3, topK = 3)
      .select("query_id", "rn", "neighbor_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(served(1L) === bruteTopK(1L, 3))
    assert(served(6L) === bruteTopK(6L, 3))
  }

  test("beam serves unpersist the frames their walk persisted") {
    val sc = spark.sparkContext
    // cached frames only: Spark's cache names each cached RDD after
    // its plan. A localCheckpoint also registers its (unnamed) RDD as
    // persistent, and the ContextCleaner reclaims it once the frame is
    // unreachable — the walk's per-step states and the served result
    // are such checkpoints.
    def persisted(): Set[String] =
      sc.getPersistentRDDs.values.filter(_.name != null)
        .map(_.toString).toSet
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2).localCheckpoint()
    val queries = codesDf.filter(col("vec_id").isin(1L, 6L))
    val before = persisted()
    val plain = GraphAnn.beamServe(queries, graph, codesDf, "vec_id",
      "code", entryK = 2, beam = 6, steps = 3, topK = 3)
    val filtered = GraphAnn.beamServeFiltered(queries, graph, codesDf,
      codesDf.filter(col("vec_id").isin(6L, 8L)), "vec_id", "code",
      entryK = 2, beam = 6, steps = 3, topK = 3)
    assert(plain.count() === 6L)
    assert(filtered.count() === 3L) // allowed {6, 8}, self excluded
    assert((persisted() -- before).isEmpty)
  }

  test("beamServeLayered with one full layer IS beamServe") {
    import spark.implicits._
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2)
    val q = codesDf.filter(col("vec_id").isin(1L, 6L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rn", "neighbor_id", "idot")
        .as[(Long, Long, Long, Long)].collect().toSet
    val flat = rows(GraphAnn.beamServe(q, graph, codesDf,
      "vec_id", "code", entryK = 2, beam = 6, steps = 3, topK = 3))
    val layered = rows(GraphAnn.beamServeLayered(q,
      Seq((graph.select(col("src"), col("dst")), 3)), codesDf, codesDf,
      "vec_id", "code", entryK = 2, beam = 6, topK = 3))
    assert(layered === flat)
  }

  test("layered descent through a sparse upper layer still finds the exact top-k") {
    import spark.implicits._
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2)
    // upper layer: half the nodes (hash-free here: even ids — the
    // spec pins the descent mechanics, membership policy is the
    // caller's), one ring over them
    val upperNodes = codesDf.filter(col("vec_id") % 2 === 0)
    val upper = GraphAnn.ringInitEdges(upperNodes, "vec_id",
      k = 2, buckets = 1)
    val served = GraphAnn.beamServeLayered(
        codesDf.filter(col("vec_id").isin(1L, 6L)),
        Seq((upper, 1), (graph.select(col("src"), col("dst")), 2)),
        upperNodes, codesDf, "vec_id", "code", entryK = 2, beam = 6,
        topK = 3)
      .select("query_id", "rn", "neighbor_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(served(1L) === bruteTopK(1L, 3))
    assert(served(6L) === bruteTopK(6L, 3))
  }

  test("sequential insertNodes batches == the same inserts applied one call at a time") {
    import spark.implicits._
    // the q468 streaming-ingest identity in its unit form: folding
    // insertNodes over batch0 then batch1 must equal the same two
    // calls made directly — i.e. the streaming machinery adds
    // nothing; each batch sees the index as of its arrival
    val base = codesDf.filter(col("vec_id") <= 6L)
    val graph0 = GraphAnn.nnDescent(base, "vec_id", "code",
      k = 3, rounds = 3, buckets = 2).select(col("src"), col("dst"))
    val b0 = codesDf.filter(col("vec_id") === 7L)
    val b1 = codesDf.filter(col("vec_id") === 8L)
    def step(g: org.apache.spark.sql.DataFrame,
        cs: org.apache.spark.sql.DataFrame,
        delta: org.apache.spark.sql.DataFrame) =
      GraphAnn.insertNodes(g, cs, delta, "vec_id", "code",
        k = 3, entryK = 2, beam = 6, steps = 2)
        .select(col("src"), col("dst"))
    val afterFold = Seq(b0, b1).foldLeft(
      (graph0, base)) { case ((g, cs), d) =>
        (step(g, cs, d), cs.unionByName(d))
      }._1.as[(Long, Long)].collect().toSet
    val g1 = step(graph0, base, b0)
    val g2 = step(g1, base.unionByName(b0), b1)
      .as[(Long, Long)].collect().toSet
    assert(afterFold === g2)
    // and the inserted nodes got real adjacency lists
    assert(g2.exists(_._1 == 7L) && g2.exists(_._1 == 8L))
  }

  test("numUpperLevels follows the geometric policy and its bounds") {
    // n·fanout^-l ≥ minTop picks the deepest level; cap and floor-1
    assert(GraphAnn.numUpperLevels(500L, 4, 8, 2) === 2)
    assert(GraphAnn.numUpperLevels(2000L, 4, 8, 2) === 2) // capped (3 by data)
    assert(GraphAnn.numUpperLevels(2000L, 4, 8, 5) === 3)
    assert(GraphAnn.numUpperLevels(7L, 4, 8, 3) === 1) // floor
    assert(GraphAnn.numUpperLevels(1000000L, 10, 10, 9) === 5)
  }

  test("buildLayerStack: geometric membership, top-first, nested levels") {
    import spark.implicits._
    val ids = (1L to 400L).toDF("vec_id")
      .withColumn("code", array(col("vec_id").cast("int"), lit(1)))
    val stack = GraphAnn.buildLayerStack(ids, "vec_id", k = 2,
      fanout = 4, levels = 2, buckets = 8)
    assert(stack.size === 2)
    val top = stack.head._2.select("vec_id").as[Long].collect().toSet
    val mid = stack(1)._2.select("vec_id").as[Long].collect().toSet
    // levels nest (level 2 ⊂ level 1) and thin geometrically
    assert(top.subsetOf(mid))
    assert(top.nonEmpty && mid.size < 400 && top.size < mid.size)
    // membership is the salted-hash draw, replayable per node
    val expectMid = ids.filter(
        GraphAnn.saltedHash60(col("vec_id"), ":lvl") % 4 === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(mid === expectMid)
    // each level's edges stay within its membership
    stack.foreach { case (edges, nodes) =>
      val ns = nodes.select("vec_id").as[Long].collect().toSet
      val es = edges.select("src", "dst").as[(Long, Long)].collect()
      assert(es.forall { case (s, d) => ns(s) && ns(d) })
    }
  }

  test("beamServeFiltered returns only allowed nodes; routes through others") {
    import spark.implicits._
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2)
    // allow only cluster B's far members: query 1 (cluster A) must
    // ROUTE THROUGH its own cluster and unallowed B nodes to collect
    // them — a pre-filtered walk could never leave cluster A
    val allowed = codesDf.filter(col("vec_id").isin(6L, 8L))
    val served = GraphAnn.beamServeFiltered(
        codesDf.filter(col("vec_id") === 1L), graph, codesDf, allowed,
        "vec_id", "code", entryK = 2, beam = 6, steps = 3, topK = 3)
      .select("query_id", "rn", "neighbor_id")
      .as[(Long, Long, Long)].collect()
    assert(served.map(_._3).toSet.subsetOf(Set(6L, 8L)))
    // exact filtered top-k: both allowed nodes, dot order
    val exact = Seq(6L, 8L).sortBy { id =>
      (-fixture(1L).zip(fixture(id)).map { case (a, b) => a.toLong * b }.sum, id)
    }
    assert(served.sortBy(_._2).map(_._3).toSeq === exact)
  }

  test("beamServeFiltered ranks each node once when the allowed set repeats nodes") {
    import spark.implicits._
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2)
    val allowed = codesDf.filter(col("vec_id").isin(6L, 8L))
    // steps = 0: the served list is the entry set's matched rows, so a
    // repeated allowed node shows up as a repeated neighbour
    val served = GraphAnn.beamServeFiltered(
        codesDf.filter(col("vec_id") === 1L), graph, codesDf,
        allowed.union(allowed), "vec_id", "code", entryK = 8, beam = 6,
        steps = 0, topK = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(served.length === served.distinct.length)
    assert(served.map(_._2).toSet === Set(6L, 8L))
  }

  test("beamServeFilteredLayered collects only allowed nodes through a layer descent") {
    import spark.implicits._
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2).select(col("src"), col("dst"))
    val upperNodes = codesDf.filter(col("vec_id") % 2 === 0)
    val upper = GraphAnn.ringInitEdges(upperNodes, "vec_id",
      k = 2, buckets = 1)
    val allowed = codesDf.filter(col("vec_id").isin(6L, 8L))
    val served = GraphAnn.beamServeFilteredLayered(
        codesDf.filter(col("vec_id") === 1L),
        Seq((upper, 1), (graph, 2)), upperNodes, codesDf, allowed,
        "vec_id", "code", entryK = 2, beam = 6, topK = 3)
      .select("rn", "neighbor_id").as[(Long, Long)].collect()
    val exact = Seq(6L, 8L).sortBy { id =>
      (-fixture(1L).zip(fixture(id)).map { case (a, b) => a.toLong * b }.sum, id)
    }
    assert(served.sortBy(_._1).map(_._2).toSeq === exact)
  }

  test("filteredServeAuto switches plans on allowed-set cardinality") {
    import spark.implicits._
    val graph = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2).select(col("src"), col("dst"))
    val allowed = codesDf.filter(col("vec_id").isin(6L, 8L))
    val q = codesDf.filter(col("vec_id") === 1L)
    def run(switchBelow: Long) =
      GraphAnn.filteredServeAuto(q, graph, codesDf, allowed,
          "vec_id", "code", entryK = 2, beam = 6, steps = 3, topK = 3,
          switchBelow)
        .select("plan", "rn", "neighbor_id")
        .as[(String, Long, Long)].collect()
    val exact = Seq(6L, 8L).sortBy { id =>
      (-fixture(1L).zip(fixture(id)).map { case (a, b) => a.toLong * b }.sum, id)
    }
    // |allowed| = 2 ≤ 10 → exact scan; results are THE filtered top-k
    val scan = run(10L)
    assert(scan.forall(_._1 == "exact_scan"))
    assert(scan.sortBy(_._2).map(_._3).toSeq === exact)
    // |allowed| = 2 > 0 → stitched walk; same answer on this fixture,
    // only allowed nodes returned
    val walk = run(0L)
    assert(walk.forall(_._1 == "stitched_walk"))
    assert(walk.sortBy(_._2).map(_._3).toSeq === exact)
  }

  test("insertNodes: O(delta) ranked path equals the full re-rank") {
    import spark.implicits._
    // the r16 fast path (ranked input: untouched lists pass through)
    // must be row-identical to the bare-(src,dst) full re-rank
    val base = codesDf.filter(col("vec_id") <= 6L)
    val delta = codesDf.filter(col("vec_id") > 6L)
    val ranked = GraphAnn.nnDescent(base, "vec_id", "code",
      k = 3, rounds = 3, buckets = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "rn", "dst", "idot")
        .as[(Long, Long, Long, Long)].collect().toSet
    val fast = rows(GraphAnn.insertNodes(ranked, base, delta,
      "vec_id", "code", k = 3, entryK = 2, beam = 6, steps = 2))
    val full = rows(GraphAnn.insertNodes(
      ranked.select(col("src"), col("dst")), base, delta,
      "vec_id", "code", k = 3, entryK = 2, beam = 6, steps = 2))
    assert(fast === full)
  }

  test("deleteNodes: O(touched) ranked path equals the full re-rank") {
    import spark.implicits._
    val ranked = GraphAnn.nnDescent(codesDf, "vec_id", "code",
      k = 4, rounds = 3, buckets = 2)
    val del = Seq(3L, 8L).toDF("vec_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "rn", "dst", "idot")
        .as[(Long, Long, Long, Long)].collect().toSet
    val fast = rows(GraphAnn.deleteNodes(ranked, codesDf, del,
      "vec_id", "code", k = 3))
    val full = rows(GraphAnn.deleteNodes(
      ranked.select(col("src"), col("dst")), codesDf, del,
      "vec_id", "code", k = 3))
    assert(fast === full)
  }
}
