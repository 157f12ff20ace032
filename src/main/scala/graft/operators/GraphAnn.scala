package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions.dotI

/** Graph-based approximate nearest neighbor — the neighbor-graph
  * family (NN-descent build + beam-search serve; Dong et al. 2011,
  * WWW '11, and the HNSW/DiskANN serving idea reduced to its
  * flat-graph core) completing the ANN lifecycle next to IVF
  * (q57/q121), LSH (q32/q122), PQ/ADC (q211/q212) and binary-Hamming
  * (q209/q210) indexes.
  *
  * Everything is exact-integer over int8 codes ([[Similarity
  * .quantizeInt8]]): the metric is the native [[dotI]] code dot and
  * every rank breaks ties (idot desc, id asc) — a total order, so
  * builds AND serves hash-gate cross-engine (the q442 determinism
  * contract).
  *
  * 100 TB shape: the build never goes all-pairs — the initial graph
  * is k salted HASH RINGS (each ring a deterministic random cycle
  * over the corpus: bucket by salted hash, rank inside the bucket,
  * edge to the cyclic successor), and each NN-descent round's
  * candidate set is co-neighbor pairs of the UNDIRECTED current
  * graph: ≤ n·C(2k,2) rows per round, scored by one code join and
  * cut by one per-node top-k window. Ring windows partition by
  * bucket — size `buckets` to keep a bucket inside a task (n/buckets
  * rows), the same lever as shuffle partitioning. Serving expands a
  * per-query BEAM along graph edges: state is queries×beam rows,
  * each step one edge join + one code join + one rank window —
  * corpus-size-independent once the graph is built.
  */
object GraphAnn {

  /** 60-bit salted id hash — pure function of (id, salt), the
    * [[Corpus.aesPriority]] determinism pattern: both engines hash
    * the identical string and read the same 15 hex chars.
    */
  def saltedHash60(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long")

  /** k deterministic ring edges per node: for each salt j, bucket by
    * hash_j mod `buckets`, rank inside the bucket by (hash_j, id),
    * and point every node at its cyclic successor. k independent
    * random cycles make the union graph connected across buckets in
    * expectation — the random init NN-descent needs, with zero
    * RNG state (replayable in SQL verbatim).
    *
    * Plan shape (optimization r15, guide §2.4): the k rings ride ONE
    * exploded frame and ONE window — the cyclic successor is
    * `lead(src, 1)` with a `first(src)` wrap (identical to the old
    * rank self-join's `rr = lr % lc + 1`, row by row), so the k
    * separate window+self-join subtrees (≈2 exchanges + 1 join per
    * ring) collapse to 1 exchange + 1 distinct for the whole init.
    */
  def ringInitEdges(corpus: DataFrame, idCol: String, k: Int,
      buckets: Int): DataFrame = {
    require(k >= 1 && buckets >= 1)
    val rings = array((1 to k).map { j =>
      struct(lit(j).as("j"), saltedHash60(col(idCol), s":ring$j").as("h"))
    }: _*)
    val base = corpus
      .select(col(idCol).as("src"), explode(rings).as("__r"))
      .select(col("src"), col("__r.j").as("__j"), col("__r.h").as("__h"),
        (col("__r.h") % buckets).as("__b"))
    val w = Window.partitionBy(col("__j"), col("__b"))
      .orderBy(col("__h"), col("src"))
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    base
      .withColumn("dst",
        coalesce(lead(col("src"), 1).over(w),
          first(col("src")).over(wAll)))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  /** Score candidate edges by code dot and keep the k best per
    * source — (idot desc, dst asc), total.
    */
  private def scoreTopK(cand: DataFrame, codes: DataFrame,
      idCol: String, codeCol: String, k: Int): DataFrame = {
    val sc = codes.select(col(idCol).as("src"), col(codeCol).as("__sc"))
    val dc = codes.select(col(idCol).as("dst"), col(codeCol).as("__dc"))
    // dst-join first, src-join LAST (optimization r15, guide §2.4):
    // when the code joins shuffle (corpus-sized codes at scale), the
    // final join leaves the frame hash-partitioned by src — exactly
    // the top-k window's required distribution, so the window's own
    // exchange is elided
    TopK.rank(cand.join(dc, "dst").join(sc, "src")
        .withColumn("idot", dotI(col("__sc"), col("__dc"))),
        "src", col("idot").desc, "dst", k)
      .select(col("src"), col("rn"), col("dst"), col("idot"))
  }

  /** NN-descent: `rounds` rounds of co-neighbor refinement over the
    * ring init. Round = undirected current graph → co-neighbor pairs
    * (each node pair sharing a neighbor, both directions) ∪ current
    * edges → score → top-k per node. Returns the ranked k-NN edge
    * list (src, rn, dst, idot). Edge frames are localCheckpointed
    * per round (bounded: n·k rows) so round r's plan never re-derives
    * rounds 1..r−1.
    */
  def nnDescent(codes: DataFrame, idCol: String, codeCol: String,
      k: Int, rounds: Int, buckets: Int): DataFrame = {
    require(rounds >= 0)
    var edges = ringInitEdges(codes, idCol, k, buckets)
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      // co-neighbor candidates via per-node adjacency ARRAYS
      // (optimization r15, guide §2.3/§2.4): one groupBy collects each
      // node's undirected neighbor set (≤ 2k, bounded), and the
      // ordered pairs explode from the array — replacing the old
      // distinct + und⋈und self-join (3 exchanges) with 1 exchange.
      // collect_set dedups, so the pair SET is identical.
      val und = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val adj = und.groupBy(col("src").as("__p"))
        .agg(collect_set(col("dst")).as("__nbrs"))
      // two chained explodes, NOT one nested transform (ADVICE r15):
      // out-degree is capped at k but in-degree in the symmetrized
      // graph is unbounded, so a hub's co-neighbor pairs are d² — one
      // row holding all d² structs risks executor OOM on skewed
      // graphs, while explode-then-explode streams the same pair
      // multiset through the generator at O(d) bytes per row
      val pairs = adj
        .select(col("__nbrs"), explode(col("__nbrs")).as("src"))
        .select(col("src"),
          explode(filter(col("__nbrs"), w => w =!= col("src"))).as("dst"))
      val cand = edges.select(col("src"), col("dst"))
        .union(pairs)
        .filter(col("src") =!= col("dst"))
        .distinct()
      edges = scoreTopK(cand, codes, idCol, codeCol, k)
        .select(col("src"), col("dst")).localCheckpoint(false)
    }
    scoreTopK(edges, codes, idCol, codeCol, k)
  }

  /** Incremental node insertion (the DiskANN/HNSW insert pattern,
    * flat-graph form): each NEW node finds its k out-edges by a beam
    * search over the EXISTING graph (never a scan of the corpus),
    * its reverse edges become candidates for the existing nodes it
    * points at, and one top-k window re-cuts every touched adjacency
    * list. O(delta · beam · steps) search work + one (n·k + delta·k)-
    * bounded re-rank — the graph analog of q437's O(delta) IVF
    * maintenance; the corpus is never re-signed.
    */
  def insertNodes(graph: DataFrame, codes: DataFrame,
      newCodes: DataFrame, idCol: String, codeCol: String, k: Int,
      entryK: Int, beam: Int, steps: Int): DataFrame = {
    // delta·k rows, consumed 2–3 times below (candidates, reverse
    // candidates, touched set) — truncate so each reference reads the
    // bounded frame instead of re-running the serve's final window
    val attached = beamServe(newCodes, graph, codes, idCol, codeCol,
        entryK, beam, steps, k)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint(false)
    val allC = codes.unionByName(newCodes)
    val ranked =
      if (Seq("rn", "idot").forall(graph.columns.contains)) {
        // O(delta) re-rank (optimization r16, guide §1.2 step 1):
        // when the caller passes the RANKED graph (src, rn, dst,
        // idot — what nnDescent/insertNodes emit), only the
        // adjacency lists the insert TOUCHES re-score. An untouched
        // list's old result was a re-score of its own k edges: idot
        // is a pure function of the pair and the rank order is the
        // same (idot desc, dst) the build used, so those rows pass
        // through bit-identically with zero joins and zero window —
        // the operator finally matches its own O(delta·k) scaladoc
        // instead of re-scoring all n·k edges per insert. Touched =
        // the delta nodes plus every existing node a reverse edge
        // lands on — delta-bounded, hence the broadcast.
        val touched = attached.select(col("src"))
          .union(attached.select(col("dst").as("src"))).distinct()
        val cand = graph.select(col("src"), col("dst"))
          .join(broadcast(touched), Seq("src"), "left_semi")
          .union(attached)
          .union(attached.select(col("dst").as("src"),
            col("src").as("dst")))
          .distinct()
        scoreTopK(cand, allC, idCol, codeCol, k)
          .unionByName(graph
            .join(broadcast(touched), Seq("src"), "left_anti")
            .select(col("src"), col("rn"), col("dst"), col("idot")))
      } else {
        // bare (src, dst) input: full re-rank, the pre-r16 path —
        // also the equivalence oracle GraphAnnSpec's parity tests pin
        // the O(delta) path against
        val cand = graph.select(col("src"), col("dst"))
          .union(attached)
          .union(attached.select(col("dst").as("src"),
            col("src").as("dst")))
          .distinct()
        scoreTopK(cand, allC, idCol, codeCol, k)
      }
    // materialize the updated index ((n + delta)·k rows): a serve
    // plan referencing it per beam step must not re-run the insert
    ranked.localCheckpoint(false)
  }

  /** Node DELETION with local repair (the DiskANN delete/consolidate
    * pattern): edges FROM deleted nodes drop; every survivor that
    * pointed AT a deleted node splices through it (candidates = the
    * deleted node's own out-neighbors — locality is preserved because
    * the deleted node's neighbors are near whoever pointed at it) and
    * one top-k window re-cuts the touched lists. Work is bounded by
    * (edges at deleted nodes) · k — never a rebuild, never all-pairs.
    */
  def deleteNodes(graph: DataFrame, codes: DataFrame,
      deletedIds: DataFrame, idCol: String, codeCol: String,
      k: Int): DataFrame = {
    val del = deletedIds.select(col(idCol).as("__del"))
    val liveCodes = codes.join(del, codes(idCol) === del("__del"),
      "left_anti")
    val e = graph.select(col("src"), col("dst"))
    // survivors' edges, split on whether the target survives
    val srcLive = e.join(del, e("src") === del("__del"), "left_anti")
    val kept = srcLive.join(del, srcLive("dst") === del("__del"),
      "left_anti")
    val broken = srcLive.join(del.select(col("__del").as("dst")),
      Seq("dst"), "left_semi")
    // splice: u→d (broken) + d→w (the deleted node's out list) ⇒ u→w
    val splice = broken.select(col("src"), col("dst").as("__mid"))
      .join(e.select(col("src").as("__mid"), col("dst")), Seq("__mid"))
      .select(col("src"), col("dst"))
      // splice targets may themselves be deleted
      .join(del.select(col("__del").as("dst")), Seq("dst"), "left_anti")
      .filter(col("src") =!= col("dst"))
      // a USING-style join moves its key to column 0 — re-pin the
      // (src, dst) order before the POSITIONAL union below
      .select(col("src"), col("dst"))
    val repaired =
      if (Seq("rn", "idot").forall(graph.columns.contains)) {
        // O(touched) re-rank (optimization r16) — the insertNodes
        // argument verbatim: a surviving node with NO broken edge
        // keeps its list (all its dsts survive, so re-scoring its own
        // k edges against liveCodes reproduces idot and rank order
        // bit-identically); only srcs with ≥1 broken edge carry
        // splice candidates and re-rank. Touched is bounded by the
        // in-degree of the deleted set — never the corpus.
        val touched = broken.select(col("src")).distinct()
        val candT = kept.select(col("src"), col("dst"))
          .join(broadcast(touched), Seq("src"), "left_semi")
          .union(splice).distinct()
        scoreTopK(candT, liveCodes, idCol, codeCol, k)
          .unionByName(graph
            .join(del, graph("src") === del("__del"), "left_anti")
            .join(broadcast(touched), Seq("src"), "left_anti")
            .select(col("src"), col("rn"), col("dst"), col("idot")))
      } else
        scoreTopK(kept.select(col("src"), col("dst")).union(splice)
          .distinct(), liveCodes, idCol, codeCol, k)
    repaired.localCheckpoint(false)
  }

  /** Beam-search serve over a built neighbor graph: start every query
    * at the `entryK` fixed entry nodes (smallest salted hash — a
    * corpus-independent, deterministic pick read via one top-k), then
    * `steps` rounds of expand-along-edges → score → keep-beam. The
    * query's own row is excluded only at the END (it may legitimately
    * anchor the walk). Returns (query_id, rn, neighbor_id, idot),
    * rn ≤ topK.
    */
  def beamServe(queries: DataFrame, graph: DataFrame, codes: DataFrame,
      idCol: String, codeCol: String, entryK: Int, beam: Int,
      steps: Int, topK: Int): DataFrame = {
    require(steps >= 0)
    beamCore(queries, codes, codes, Seq((graph, steps)), idCol,
      codeCol, entryK, beam, topK)
  }

  /** HNSW-style LAYERED serve: descend a stack of graphs from
    * sparsest to densest — a few beam steps over a hash-sampled
    * upper layer route the beam into the right region of the full
    * graph, so the expensive bottom-layer expansion needs fewer
    * steps for the same recall (Malkov & Yashunin 2016, reduced to
    * deterministic layers: level membership is a salted-hash
    * sample, not an RNG draw, so the whole descent replays in SQL).
    *
    * `layers` runs top→bottom as (edges, steps); entry points are
    * the `entryK` smallest `:entry`-hash nodes of `topNodes` (the
    * top layer's membership set). The beam state carries over from
    * each layer into the next — exactly the HNSW ef-search handoff.
    * At 100 TB: the upper layers are corpus-fraction-sized (fanout^-L
    * of the corpus), so their expansion joins touch a sliver of the
    * edge table; the state stays queries×beam rows throughout.
    */
  def beamServeLayered(queries: DataFrame, layers: Seq[(DataFrame, Int)],
      topNodes: DataFrame, codes: DataFrame, idCol: String,
      codeCol: String, entryK: Int, beam: Int, topK: Int): DataFrame = {
    require(layers.nonEmpty && layers.forall(_._2 >= 0))
    beamCore(queries, codes, topNodes, layers, idCol, codeCol, entryK,
      beam, topK)
  }

  /** Geometric level count for [[buildLayerStack]] — the HNSW level
    * policy with the RNG draw replaced by corpus size: level l keeps
    * ~n·fanout^-l nodes, so the stack stops when a level would fall
    * below `minTop` nodes (the entry set must stay non-trivial);
    * `cap` bounds the descent cost. n=500, fanout=4, minTop=8 → 2.
    */
  def numUpperLevels(n: Long, fanout: Int, minTop: Int, cap: Int): Int = {
    require(fanout >= 2 && minTop >= 1 && cap >= 1)
    val byData = Iterator.iterate(1L)(_ * fanout)
      .zipWithIndex.takeWhile { case (f, _) => n / f >= minTop }
      .map(_._2).foldLeft(0)((_, l) => l)
    math.min(cap, math.max(1, byData))
  }

  /** Nodes on level `l` (l ≥ 1) of the geometric stack: salted-hash
    * membership P(level ≥ l) = fanout^-l — HNSW's exponential level
    * draw as a pure function of the id, so membership replays in SQL
    * and is STABLE under corpus growth (a node never changes level).
    */
  def levelNodes(codes: DataFrame, idCol: String, fanout: Int,
      l: Int): DataFrame = {
    require(fanout >= 2 && l >= 1)
    val f = Iterator.iterate(1L)(_ * fanout).drop(l).next()
    codes.filter(saltedHash60(col(idCol), ":lvl") % f === 0)
  }

  /** Auto-built multi-level layer stack for [[beamServeLayered]]
    * (VERDICT r11 item 3): `levels` upper layers, level l = ring
    * graphs over the fanout^-l hash sample ([[levelNodes]]), top
    * first. Returns (edges, memberNodes) per layer top→bottom-1;
    * callers append the full bottom graph and pass the TOP layer's
    * nodes as the entry pool. Upper layers stay ring-init-only (the
    * q469 shape: their job is routing, not final precision — and a
    * ring over a sample is one window, no NN-descent rounds). At
    * 100 TB each level's edge table is fanout^-l of the corpus, so
    * the upper expansion joins touch a sliver of the bottom layer's.
    */
  def buildLayerStack(codes: DataFrame, idCol: String, k: Int,
      fanout: Int, levels: Int, buckets: Int): Seq[(DataFrame, DataFrame)] = {
    require(levels >= 1)
    (levels to 1 by -1).map { l =>
      val nodes = levelNodes(codes, idCol, fanout, l)
      // bucket count shrinks with the level so ring buckets keep
      // O(n·fanout^-l / buckets) members — same task-size lever as
      // the bottom build
      val b = math.max(1, buckets / Iterator.iterate(1)(_ * fanout)
        .drop(l).next())
      (ringInitEdges(nodes, idCol, k, b), nodes)
    }
  }

  /** PREDICATE-CONSTRAINED beam serve (the DiskANN/Qdrant filtered-
    * search pattern, VERDICT r11 item 4): the beam routes through
    * EVERY node — restricting the walk itself to matching nodes
    * disconnects the graph at selective predicates — but only nodes
    * present in `allowed` are collected into the result. A separate
    * per-query accumulator keeps the best `topK` matching nodes seen
    * at ANY scoring step (matches scored during expansion count even
    * when the unfiltered beam cut drops them), which is exactly why
    * post-filtering a fixed top-k under-returns: the global top-k is
    * dominated by non-matching nodes at a 5% predicate, so filtering
    * it afterwards yields ≪ k rows, while the route-through walk
    * keeps collecting matches all the way down.
    *
    * Recall at selective predicates is COVERAGE-bound (measured, q475:
    * the routing beam's scored set is its out-neighborhoods, and a
    * better-navigable graph converges faster and explores LESS), so
    * pass `graph` STITCHED with a kNN overlay built over the allowed
    * subset (`nnDescent` on the filtered codes — |allowed|·k edges,
    * selectivity-bounded): matched nodes then chain through
    * allowed-only edges, the FilteredDiskANN/FilteredVamana per-label
    * subgraph idea — audited recall 1.0 at 5% selectivity vs 0.48
    * unstitched. At very low selectivity the production plan is the
    * cardinality switch: exact-score the allowed set outright when
    * |allowed| is small enough that a scan beats walk bookkeeping.
    */
  def beamServeFiltered(queries: DataFrame, graph: DataFrame,
      codes: DataFrame, allowed: DataFrame, idCol: String,
      codeCol: String, entryK: Int, beam: Int, steps: Int,
      topK: Int): DataFrame = {
    require(steps >= 0)
    beamCoreFiltered(queries, codes, codes, Seq((graph, steps)),
      allowed.select(col(idCol).as("node")), idCol, codeCol,
      entryK, beam, topK)
  }

  /** [[beamServeFiltered]] descending a LAYER STACK — filtered HNSW,
    * the shape vector stores actually ship: the beam routes down the
    * [[buildLayerStack]] levels while the matched frontier collects
    * (and expands) `allowed` nodes at every step. Stitch the allowed-
    * subset kNN overlay into each layer's edge set for the same
    * coverage reason as the flat case (the q475 lesson: recall is
    * coverage-bound, and the overlay is |allowed|·k edges).
    */
  def beamServeFilteredLayered(queries: DataFrame,
      layers: Seq[(DataFrame, Int)], topNodes: DataFrame,
      codes: DataFrame, allowed: DataFrame, idCol: String,
      codeCol: String, entryK: Int, beam: Int, topK: Int): DataFrame = {
    require(layers.nonEmpty && layers.forall(_._2 >= 0))
    beamCoreFiltered(queries, codes, topNodes, layers,
      allowed.select(col(idCol).as("node")), idCol, codeCol,
      entryK, beam, topK)
  }

  /** Filtered serve with the CARDINALITY SWITCH (the Qdrant planner
    * rule): when the predicate keeps ≤ `switchBelow` rows, exact-score
    * the allowed set outright — at that size a scan beats graph-walk
    * bookkeeping AND is exactly correct — otherwise run the stitched
    * [[beamServeFiltered]] walk. The count is one bounded agg action;
    * the emitted `plan` column records the choice so a caller (and
    * the gate) can pin it. Both branches return the same shape
    * (query_id, rn, neighbor_id, idot, plan).
    */
  def filteredServeAuto(queries: DataFrame, graph: DataFrame,
      codes: DataFrame, allowed: DataFrame, idCol: String,
      codeCol: String, entryK: Int, beam: Int, steps: Int, topK: Int,
      switchBelow: Long): DataFrame = {
    val nAllowed = allowed.count()
    if (nAllowed <= switchBelow) {
      TopK.exact(queries, allowed, idCol, codeCol, dotI, _.desc, topK)
        .select(col("query_id"), col("rn"), col("neighbor_id"),
          col("score").as("idot"), lit("exact_scan").as("plan"))
    } else {
      val overlay = nnDescent(allowed, idCol, codeCol,
        k = 4, rounds = 1, buckets = math.max(1,
          (nAllowed / 256L).toInt)).select(col("src"), col("dst"))
      beamServeFiltered(queries,
          graph.select(col("src"), col("dst")).unionByName(overlay)
            .distinct(),
          codes, allowed, idCol, codeCol, entryK, beam, steps, topK)
        .withColumn("plan", lit("stitched_walk"))
    }
  }

  /** Unfiltered beam core — the r15 shape, kept verbatim: state is
    * (query_id, node, idot); each step broadcasts the post-cut state
    * and the expansion pairs against streamed scans of the persisted
    * graph/codes frames, the query code joins per step from the
    * persisted 1-row-per-query frame, and union+dedup+rank fuse into
    * one window pass. An r16 variant that carried the query code in
    * the state (saving the per-step q-join broadcast) measured
    * uniformly WORSE here (q452 7.66→8.26 s, q457 9.55→10.42 s,
    * q468 9.85→10.74 s, identical single-JVM A/B at sf0.1) — the
    * widened state through every per-step broadcast and window
    * outweighed the removed join — so the unfiltered path keeps the
    * slim state; the filtered path (below) keeps the code because its
    * fusion wins depend on it and measured better (q475 7.57→6.06,
    * q479 8.57→7.44).
    */
  private def beamCore(queries: DataFrame, codes: DataFrame,
      entryPool: DataFrame, layers: Seq[(DataFrame, Int)], idCol: String,
      codeCol: String, entryK: Int, beam: Int, topK: Int): DataFrame = {
    require(entryK >= 1 && beam >= 1 && topK >= 1)
    val q = queries.select(col(idCol).as("query_id"),
        col(codeCol).as("__qc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cs = codes.select(col(idCol).as("node"), col(codeCol).as("__nc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val entry = entryPool
      .select(col(idCol).as("node"),
        saltedHash60(col(idCol), ":entry").as("__h"))
      .orderBy(col("__h"), col("node")).limit(entryK)
      .select(col("node"))
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("idot").desc, col("node"))
    def dedupKeep(state: DataFrame, n: Int): DataFrame = state
      .withColumn("__dup",
        lag(col("node"), 1).over(wBeam) === col("node"))
      .filter(!coalesce(col("__dup"), lit(false)))
      .withColumn("__rn", row_number().over(wBeam))
      .filter(col("__rn") <= n)
      .select(col("query_id"), col("node"), col("idot"))
    def scored(pairsQN: DataFrame): DataFrame =
      cs.join(broadcast(pairsQN), "node").join(broadcast(q), "query_id")
        .withColumn("idot", dotI(col("__qc"), col("__nc")))
        .select(col("query_id"), col("node"), col("idot"))
    var st = scored(q.select(col("query_id")).crossJoin(broadcast(entry)))
    val layersP = layers.map { case (g, n) =>
      (g.select(col("src"), col("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), n)
    }
    for ((graph, steps) <- layersP; _ <- 1 to steps) {
      val exp = scored(
        graph.join(broadcast(st
            .select(col("query_id"), col("node").as("src"))), "src")
          .select(col("query_id"), col("dst").as("node")))
      st = dedupKeep(st.union(exp), beam).localCheckpoint(false)
    }
    released(TopK.rank(st.filter(col("node") =!= col("query_id")),
        "query_id", col("idot").desc, "node", topK)
      .select(col("query_id"), col("rn"), col("node").as("neighbor_id"),
        col("idot")), q +: cs +: layersP.map(_._1))
  }

  /** Materialise a beam core's served top-k, then unpersist the frames
    * the walk persisted: the returned frame reads only its own
    * checkpoint, and a long-lived session does not accumulate one
    * cached query/codes/graph copy per serve call.
    */
  private def released(served: DataFrame,
      persisted: Seq[DataFrame]): DataFrame = {
    val out = served.localCheckpoint()
    persisted.foreach(_.unpersist())
    out
  }

  private def beamCoreFiltered(queries: DataFrame, codes: DataFrame,
      entryPool: DataFrame, layers: Seq[(DataFrame, Int)],
      allowed: DataFrame, idCol: String,
      codeCol: String, entryK: Int, beam: Int, topK: Int): DataFrame = {
    require(entryK >= 1 && beam >= 1 && topK >= 1)
    // Plan shape (optimization r15 §3.1/§2.3/§2.4; tightened r16
    // §2.4): the walk state (queries×beam rows) is the by-design-
    // SMALL side of every join here, while graph and codes are
    // corpus-sized — so each step BROADCASTS the state against
    // streamed scans of the big frames (no corpus-sized exchange
    // anywhere). r16 cuts the per-step action cadence further:
    //  - the state CARRIES the query code (__qc), so the per-step
    //    re-join against the query frame (one broadcast build + one
    //    join per step in r15) is gone — the init pays it once. The
    //    state exchange widens by dim longs per row, but the state is
    //    queries×beam rows by construction (the documented bound).
    //    (The UNFILTERED core measured worse with this trade and
    //    keeps the slim r15 state — see [[beamCore]]; here the tag
    //    fusion below needs the code in-row and measured better.);
    //  - the filtered serve's TWO state frames (routing beam +
    //    matched accumulator) ride ONE tagged frame cut by ONE window
    //    pass per step (partitioned by (query_id, tag) — per tag this
    //    is exactly the r15 per-frame dedup+rank), so a filtered step
    //    materializes ONE checkpoint instead of three (exp/res/st);
    //  - `allowed` membership is attached to the corpus codes ONCE
    //    (one left join at serve start, persisted with cs) instead of
    //    one semi-join per step.
    // Per step the remaining actions are exactly two broadcast builds
    // (state projection; expansion pairs) and the fused cut, whose
    // lazy localCheckpoint folds into the next step's broadcast
    // build. The broadcast stays provably bounded (ADVICE r15): the
    // frontier is the POST-CUT state, ≤ 2·beam rows per query, so
    // expansion pairs are ≤ queries · 2·beam · k rows — never
    // corpus-scale. cs and q are lazily persisted: a step would
    // otherwise re-run the quantize-scan subtree per broadcast
    // rebuild.
    val q = queries.select(col(idCol).as("query_id"),
        col(codeCol).as("__qc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `allowed` may repeat a node; deduplicate before the left join or
    // every repeat duplicates that node's corpus row
    val cs = codes.select(col(idCol).as("node"), col(codeCol).as("__nc"))
      .join(allowed.select(col("node")).distinct().withColumn("__m", lit(true)),
        Seq("node"), "left")
      .select(col("node"), col("__nc"),
        coalesce(col("__m"), lit(false)).as("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val entryGlobal = entryPool
      .select(col(idCol).as("node"),
        saltedHash60(col(idCol), ":entry").as("__h"))
      .orderBy(col("__h"), col("node")).limit(entryK)
      .select(col("node"))
    // filtered serve additionally seeds `entryK` MATCHING start
    // points (the DiskANN filtered-search pattern): with a selective
    // predicate the matching nodes cluster away from the unfiltered
    // walk's path, and a fixed O(entryK) seed set from the filter's
    // own population keeps every region of it reachable — still
    // corpus-size-independent state
    val entry = entryGlobal.union(
        allowed.select(col("node"),
            saltedHash60(col("node"), ":entry").as("__h"))
          .orderBy(col("__h"), col("node")).limit(entryK)
          .select(col("node")))
      .distinct()
    // the per-step cut window: partitioned by (query_id, tag) — for
    // each tag's row set this is the SAME dedup+rank as a window
    // partitioned by query_id alone over that set
    val wTag = Window.partitionBy(col("query_id"), col("__t"))
      .orderBy(col("idot").desc, col("node"))
    val stateCols = Seq(col("__t"), col("query_id"), col("node"),
      col("idot"), col("__qc"))
    // dedup by (query_id, tag, node) + keep-best-`n` per tag in ONE
    // window pass: duplicates carry identical idot (a pure function
    // of the pair), so they sort adjacent and a lag() comparison
    // drops them; row_number over the SAME spec then ranks without a
    // second exchange (filter preserves partitioning and ordering).
    // Set-identical to per-frame union().distinct() + rank.
    def dedupKeep(state: DataFrame, n: Int): DataFrame = state
      .withColumn("__dup",
        lag(col("node"), 1).over(wTag) === col("node"))
      .filter(!coalesce(col("__dup"), lit(false)))
      .withColumn("__rn", row_number().over(wTag))
      .filter(col("__rn") <= n)
      .select(stateCols: _*)
    // state is the broadcast build side; corpus codes stream past it.
    // `pairs` columns: (query_id, __qc, node).
    def scored(pairs: DataFrame): DataFrame =
      cs.join(broadcast(pairs), "node")
        .withColumn("idot", dotI(col("__qc"), col("__nc")))
        .select(col("query_id"), col("node"), col("idot"),
          col("__qc"), col("__m"))
    // tag scored rows: every row joins the routing beam ("b"); rows
    // whose node matches the predicate ALSO join the matched
    // accumulator ("r") — the r15 `matches()` semi-join + self-filter
    // as a free map-side explode. The matched frontier is beam-sized,
    // not topK-sized, because it also EXPANDS (the FilteredDiskANN
    // traversal: matching nodes chain to the other matching nodes
    // near them, which the query-routing beam alone never visits at a
    // selective predicate). Self excluded at accumulation time so a
    // cut can never lose the k-th real answer to the query's own row.
    def tagged(sc: DataFrame): DataFrame = sc.select(
      explode(when(col("__m") && col("node") =!= col("query_id"),
          array(lit("b"), lit("r")))
        .otherwise(array(lit("b")))).as("__t"),
      col("query_id"), col("node"), col("idot"), col("__qc"))
    // init state is referenced twice by the first step (frontier
    // projection + union) — truncate so the entry subtree (a corpus
    // orderBy+limit) runs once
    var st = tagged(scored(
        q.select(col("query_id"), col("__qc"))
          .crossJoin(broadcast(entry))))
      .localCheckpoint(false)
    // lazily persist each layer's edge frame: a layer is scanned once
    // per step, and an UN-materialized graph plan (e.g. nnDescent's
    // final top-k) would otherwise re-execute per step
    val layersP = layers.map { case (g, n) =>
      (g.select(col("src"), col("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), n)
    }
    for ((graph, steps) <- layersP; _ <- 1 to steps) {
      // filtered serve expands from BOTH frontiers — routing beam and
      // matched beam, i.e. every tag of the state — in one edge join;
      // duplicate frontier rows (a node in both tags) and duplicate
      // expansion targets are NOT pre-deduped: they only multiply a
      // bounded broadcast frame, and the dedupKeep window removes
      // them before the next step
      val pairs = graph.join(broadcast(st
          .select(col("query_id"), col("__qc"), col("node").as("src"))),
          "src")
        .select(col("query_id"), col("__qc"), col("dst").as("node"))
      // truncate lineage each step: the state frame is queries×beam
      // rows, but each round references the previous one TWICE
      // (union + expansion), so an unbroken chain makes plan
      // analysis O(2^steps) — the Bpe.train checkpoint discipline
      st = dedupKeep(st.unionByName(tagged(scored(pairs))), beam)
        .localCheckpoint(false)
    }
    released(TopK.rank(st.filter(col("__t") === "r"), "query_id",
        col("idot").desc, "node", topK)
      .select(col("query_id"), col("rn"), col("node").as("neighbor_id"),
        col("idot")), q +: cs +: layersP.map(_._1))
  }
}
