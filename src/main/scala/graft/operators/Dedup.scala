package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH banding (near-dup at corpus scale),
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale shape: everything is explode → partial-agg → shuffle-on-key.
  * Nothing ever materializes an all-pairs product: LSH banding turns
  * near-dup search into an equi-join on (band, signature) buckets, so
  * 100 TB of documents cost O(corpus) shuffle plus O(Σ bucket²) local
  * pair generation — the banding parameters bound bucket sizes.
  *
  * Determinism: hashes derive from md5 ([[TextAnalysis.hash60]]) and
  * fixed LCG-generated permutation constants, so signatures are
  * reproducible across engines, runs, and partitionings.
  */
object Dedup {

  /** Mersenne prime 2^31-1: permutation modulus. (a*h+b) with
    * a,b,h < 2^31 stays under 2^62 — no Long overflow.
    */
  val P: Long = 2147483647L

  /** Deterministic permutation constants (fixed seed — signatures are
    * stable across builds; the oracle SQL interpolates the same
    * values).
    */
  def perms(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20240812L)
    Seq.fill(k)((1L + rnd.nextInt((P - 1).toInt).toLong,
                 rnd.nextInt(P.toInt).toLong))
  }

  /** Exact dedup via hash-groupBy (never all-pairs): one row per
    * distinct fingerprint with the keeper id (min) and multiplicity.
    * At 100 TB this is one shuffle of (fp, id) pairs — the canonical
    * "drop exact copies" pass.
    */
  def exactDedup(df: DataFrame, idCol: String, fp: Column): DataFrame =
    df.select(fp.as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-document (id, shingle-hash mod P) pairs. `dedup = true`
    * (one extra shuffle) is required for Jaccard set counts; MinHash
    * should pass `dedup = false` — min() is insensitive to
    * duplicates, so the signature pass needs only its own partial-agg
    * shuffle.
    */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int, dedup: Boolean = true): DataFrame = {
    // native shingle + digest expressions — both proven bit-identical
    // to the portable HOF/conv forms (WordShinglesSpec, Md5Hash60Spec),
    // without three interpreted lambdas and a hex round-trip per
    // shingle
    val hashed = df.select(col(idCol),
        explode(graft.expressions.WordShingles.shinglesNative(
          col(textCol), n)).as("shingle"))
      .select(col(idCol),
        (graft.expressions.Md5Hash60.hash60Native(col("shingle")) % P).as("h"))
    if (dedup) hashed.distinct() else hashed
  }

  /** MinHash signature: k permutation-minimums per document, one
    * groupBy over the exploded shingles (k aggregates in one pass —
    * the signature never needs k passes or a k-row shuffle).
    */
  def minhashSignatures(shingled: DataFrame, idCol: String, k: Int): DataFrame = {
    val aggs = perms(k).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"m$i")
    }
    shingled.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Projection-only MinHash: the k permutation-minimums computed as
    * array-mins over the per-ROW shingle-hash array — NO shuffle at
    * all, where [[minhashSignatures]]' groupBy formulation costs a
    * full-corpus partial-agg shuffle. Signatures are identical (min is
    * insensitive to shingle duplicates and order; asserted in
    * DedupSpec), so at 100 TB this is strictly cheaper: the signature
    * pass rides the scan and only the (much smaller) band table ever
    * shuffles. Two-step select: the hash array materializes once per
    * row (CollapseProject keeps non-cheap exprs referenced k times in
    * their own projection), then each of the k mins is one cheap
    * multiply-mod pass over it.
    */
  def minhashSignaturesRow(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val hashes = graft.expressions.ShingleHashes
      .shingleHashesNative(col(textCol), n, P)
    val sigCols = perms(k).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("__h"), h => (h * a + b) % P)).as(s"m$i")
    }
    df.select(col(idCol), hashes.as("__h"))
      .select(col(idCol) +: sigCols: _*)
  }

  /** One-permutation MinHash signature (Li/Owen/Zhang NIPS'12 with
    * Shrivastava–Li rotation densification): ONE traversal of the
    * shingle-hash array bins by `h mod k` and takes per-bin minimums
    * — where [[minhashSignaturesRow]] pays k multiply-mod traversals.
    * Same column layout (`m0..m{k-1}`), so [[lshBuckets]] composes
    * unchanged; signatures are a DIFFERENT family than the
    * k-permutation ones (bin-min, not permutation-min) with the same
    * collision law E[matches]/k ≈ Jaccard. The one-pass kernel is the
    * native [[graft.expressions.OnePermMinHash]] expression; at
    * 100 TB the signature stage is scan-bound, and O(shingles + k)
    * vs O(k·shingles) per document is the whole stage budget.
    */
  def minhashSignaturesOnePerm(df: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int): DataFrame = {
    val hashes = graft.expressions.ShingleHashes
      .shingleHashesNative(col(textCol), n, P)
    df.select(col(idCol), hashes.as("__h"))
      .select(col(idCol),
        graft.expressions.OnePermMinHash.onePermNative(col("__h"), k)
          .as("__sig"))
      .select(col(idCol) +:
        (0 until k).map(i =>
          element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** The LSH tuning curve P(candidate | similarity s) =
    * 1 − (1 − s^r)^b evaluated on a ppm grid in EXACT integer
    * arithmetic — the planner artifact that picks (bands, rows) for
    * [[lshBuckets]] before a 100 TB run commits to a threshold.
    * Powers compute by repeated squaring with a floor-division
    * rescale after each multiply (so every intermediate stays a
    * BIGINT and the SQL oracle replays bit-for-bit); `r` and `b`
    * must be powers of two, the practical operating points. The
    * ~r·b floor-loss is ≤ a few ppm — far below any tuning decision.
    */
  def lshCandidateCurve(spark: org.apache.spark.sql.SparkSession,
      r: Int, b: Int, stepPpm: Long): DataFrame = {
    def pow2(x: Int) = x >= 1 && (x & (x - 1)) == 0
    require(pow2(r) && pow2(b), s"r=$r and b=$b must be powers of two")
    require(stepPpm >= 1 && 1000000L % stepPpm == 0)
    // acc ≤ 1e6 so acc² ≤ 1e12 < 2^53: the double round-trip in
    // floor(x / 1e6) is exact and equals integer division here
    def sq(c: Column, times: Int): Column =
      (1 to times).foldLeft(c)((acc, _) =>
        floor((acc * acc) / lit(1000000L)).cast("long"))
    val grid = spark.range(1000000L / stepPpm + 1)
      .select((col("id") * stepPpm).as("s_ppm"))
    val sr = sq(col("s_ppm"), Integer.numberOfTrailingZeros(r))
    grid.withColumn("sr_ppm", sr)
      .withColumn("p_cand_ppm",
        lit(1000000L) - sq(lit(1000000L) - col("sr_ppm"),
          Integer.numberOfTrailingZeros(b)))
  }

  /** LSH banding: split the k-column signature into `bands` groups of
    * `rowsPerBand` and hash each group — documents sharing any band
    * signature become join candidates. (bands, rowsPerBand) tune the
    * similarity threshold s ≈ (1/bands)^(1/rowsPerBand).
    */
  def lshBuckets(sigs: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandSigs = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("sig"))
    }
    sigs.select(col(idCol), explode(array(bandSigs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Candidate pairs from shared buckets: equi-self-join on
    * (band, sig) with id< ordering, deduped. AQE handles skewed
    * buckets; a hot bucket (constant text) can additionally be capped
    * upstream by exact-dedup first — recommended pipeline order.
    */
  def candidatePairs(buckets: DataFrame, idCol: String): DataFrame = {
    val a = buckets.select(col("band"), col("sig"), col(idCol).as("id_a"))
    val b = buckets.select(col("band"), col("sig"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard for a pair set: two joins against the
    * shingle-set table count the intersection; sizes give the union.
    * Cost is O(candidate pairs × shingles-in-common), not all-pairs.
    */
  def jaccard(pairs: DataFrame, shingled: DataFrame, idCol: String,
      minJaccard: Option[Double] = None): DataFrame = {
    // SET-ARRAY verify (optimization r15, guide §2.3): the exploded
    // form probed every pair against the (id, h) rows — pairs ×
    // per-doc set size intermediate rows through a shuffle and a
    // pair-keyed count agg. The shingle table instead collapses ONCE
    // to doc-grain (id, h-set, size) rows and the verify is a
    // map-only size(array_intersect) per pair: identical inter counts
    // (shingle frames are distinct sets). The old inner size joins
    // already dropped pairs whose id had no shingles, so the inner
    // set joins preserve row-for-row semantics; a pair with no
    // overlap keeps its row (inter = 0) exactly like the old
    // left-join + fill(0).
    def setsOf(as: String, hAs: String, szAs: String) =
      shingled.groupBy(col(idCol))
        .agg(collect_list(col("h")).as(hAs), count(lit(1)).as(szAs))
        .withColumnRenamed(idCol, as)
    val joined = pairs
      .join(setsOf("id_a", "__ha", "sz_a"), Seq("id_a"))
      .join(setsOf("id_b", "__hb", "sz_b"), Seq("id_b"))
    // size-ratio prefilter (optimization r16, guide §2.3 one level
    // down — VERDICT r15 item 5): jaccard ≤ min(|a|,|b|)/max(|a|,|b|)
    // (inter ≤ min, union ≥ max), and double division is monotone in
    // the real quotient, so when a caller only keeps jaccard ≥ t,
    // dropping pairs with round(min/max) < t is PROVABLY lossless
    // under the exact comparison the final filter uses — and skips
    // their array_intersect, the verify's dominant per-candidate cost
    val pre = minJaccard match {
      case Some(t) => joined.filter(
        least(col("sz_a"), col("sz_b")).cast("double") /
          greatest(col("sz_a"), col("sz_b")).cast("double") >= t)
      case None => joined
    }
    pre
      .withColumn("inter",
        size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      // raw ratio of exact integers — identical doubles in any engine;
      // round() would reintroduce shortest-repr tie divergence
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * candidate → verify. Returns pairs with Jaccard ≥ threshold.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // signatures ride the scan (projection-only row form); the
    // exploded shingle table is built ONLY for the Jaccard verify of
    // the (tiny) candidate set
    val sigs = minhashSignaturesRow(df, idCol, textCol, shingleN, k)
    val buckets = lshBuckets(sigs, idCol, bands, k / bands)
    val cands = candidatePairs(buckets, idCol)
    val shingled = shingleHashes(df, idCol, textCol, shingleN)
    // threshold into the verify: the size-ratio prefilter prunes
    // length-incompatible candidates before their array_intersect
    jaccard(cands, shingled, idCol, Some(threshold))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair set: collapse pairs
    * into dedup GROUPS, electing the minimum id of each component as
    * its canonical document — the step that turns pairwise similarity
    * into "keep one copy per cluster".
    *
    * Algorithm: iterative min-label propagation (each round every node
    * takes the min of its own and its neighbors' labels) — rounds =
    * component diameter, and near-dup components are shallow by
    * construction (a hub dup connects its whole cluster in 2 hops).
    * Each round is one equi-join + one partial-agg shuffle, lineage is
    * truncated per round with an eager localCheckpoint, and the driver
    * sees only the converged/changed counter — never the data. For
    * adversarially deep chain components at extreme scale the
    * log-round large-star/small-star variant (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") drops in behind
    * the same signature.
    *
    * Returns (id, canonical_id, is_keeper) for every id present in
    * `pairs` (columns id_a/id_b).
    */
  def dedupGroups(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed at min(self, direct neighbors) — the same shuffle a
    // distinct() would cost, but it IS round one: stars and pairs
    // start converged and only need the confirm round
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("nmin")).as("label"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("nl")).as("nmin"))
      val next = labels
        .join(neighborMin.select(col("src").as("id"), col("nmin")),
          Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("nmin") < col("label")).as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).count()
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    edges.unpersist()
    require(changed == 0, s"dedupGroups did not converge in $maxRounds rounds")
    labels.select(col("id"), col("label").as("canonical_id"),
      (col("id") === col("label")).cast("int").as("is_keeper"))
  }

  /** Log-round connected components — the large-star/small-star
    * alternation of Kiveris et al., "Connected Components in MapReduce
    * and Beyond" (SOCC'14). Same contract as [[dedupGroups]]:
    * (id, canonical_id, is_keeper) for every id in `pairs`
    * (columns id_a/id_b), canonical = component minimum.
    *
    * Where [[dedupGroups]] needs diameter-many rounds (min-label moves
    * one hop per round — a contiguous-crawl shingle CHAIN is
    * linear-diameter), each large-star halves the distance of every
    * node to its component minimum, so rounds are O(log d). Per round:
    * two groupBy-min partial aggs + two equi-joins + distinct — all
    * key-partitioned shuffles, per-round localCheckpoint lineage
    * truncation, only a 3-number checksum on the driver.
    *
    * Convergence is VERIFIED, not assumed: the loop stops when the
    * edge checksum (count, Σsrc, Σdst) repeats, and the final state
    * must pass the star-forest invariant (no label points at a
    * non-root) — both operations preserve components (Lemmas 1–2 of
    * the paper), and a star forest IS the component map, so the
    * invariant makes a checksum collision impossible to mistake for
    * convergence.
    */
  def dedupGroupsLogRounds(pairs: DataFrame, maxRounds: Int = 32): DataFrame = {
    val allIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .distinct()
      .localCheckpoint(true)

    // large-star(u): every strictly-larger neighbor of u re-points to
    // m(u) = min(Γ(u) ∪ {u}). Needs the SYMMETRIC neighbor view.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star(u): every ≤-neighbor of u (and u itself) re-points to
    // the minimum of that down-neighborhood. Edges are canonicalized
    // high→low first, so the grouped min IS m(u).
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var edges = pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var prevChk: Option[(Long, Option[Long], Option[Long])] = None
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val r = next.agg(count(lit(1)), sum(col("u")), sum(col("v")))
        .collect()(0)
      val chk = (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
      converged = prevChk.contains(chk)
      prevChk = Some(chk)
      edges = next
      round += 1
    }
    require(converged,
      s"dedupGroupsLogRounds did not converge in $maxRounds rounds")
    // star state: every edge is (node, component-min). Labels grouped
    // per node (a node appears once, but groupBy keeps this robust).
    val labels = edges
      .select(greatest(col("u"), col("v")).as("id"),
        least(col("u"), col("v")).as("label"))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
      .localCheckpoint(true)
    // star-forest invariant: no node's label is itself re-labeled
    val chained = labels.select(col("label").as("id"))
      .join(labels, Seq("id"))
      .count()
    require(chained == 0,
      "dedupGroupsLogRounds: converged state is not a star forest")
    allIds.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), col("id")).as("canonical_id"),
        (col("label").isNull).cast("int").as("is_keeper"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS) — the
    * local document-fingerprinting scheme behind copy/plagiarism
    * detection: hash every `k`-token shingle, then from each window of
    * `w` consecutive shingle hashes record the minimum (ties broken by
    * the EARLIEST position — a total order, so the selection is
    * deterministic). Guarantees every shared substring of ≥ w+k-1
    * tokens contributes at least one common fingerprint, at ~2/(w+1)
    * the density of full shingling.
    *
    * 100 TB shape: one posexplode projection (shingles + hashes ride
    * the scan via the native WordShingles/Md5Hash60 expressions), one
    * per-doc window pass, one distinct — all partitioned by doc, no
    * corpus-wide state. Cross-engine total order: the window min runs
    * over `lpad(hex(hash)) || lpad(pos)` strings, so Spark and a SQL
    * oracle pick identical winners.
    *
    * Docs shorter than one full window yield their single overall
    * minimum (the pos <= max(0, n-w) start filter keeps exactly the
    * full windows, plus start 0 when n < w).
    *
    * Output: (doc_id, fp_hash, pos) — the selected fingerprints with
    * the shingle position they came from.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1)
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(graft.expressions.WordShingles.shinglesNative(
          col(textCol), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        graft.expressions.Md5Hash60.hash60Native(col("gram")).as("h"))
    val keyed = grams.select(col("doc_id"), col("pos"),
      concat(lpad(lower(hex(col("h"))), 15, "0"),
        lpad(col("pos").cast("string"), 10, "0")).as("key"),
      count(lit(1)).over(Window.partitionBy(col("doc_id"))).as("n"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    keyed
      .withColumn("wmin", min(col("key")).over(frame))
      .filter(col("pos") <= greatest(lit(0), col("n") - w))
      .select(col("doc_id"), col("wmin")).distinct()
      .select(col("doc_id"),
        conv(substring(col("wmin"), 1, 15), 16, 10).cast("long")
          .as("fp_hash"),
        substring(col("wmin"), 16, 10).cast("int").as("pos"))
  }

  /** Near-dup CANDIDATE pairs from winnowing fingerprints — the MOSS
    * composition: docs sharing ≥ `minShared` selected fingerprints are
    * copy suspects. Fingerprints appearing in more than `maxDf` docs
    * are dropped first (boilerplate — the same stopword discipline
    * every fingerprint index applies), which also BOUNDS the self-join
    * fan-out: each surviving fingerprint contributes ≤ maxDf² pairs,
    * so the plan is equi-join-shaped like LSH banding, never all-pairs.
    *
    * Output: (id_a, id_b, n_shared) with id_a < id_b.
    */
  def winnowNearDupCandidates(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4, maxDf: Int = 10,
      minShared: Int = 2): DataFrame = {
    val fp = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp_hash")).distinct()
    val kept = fp.join(
      fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf),
      Seq("fp_hash"))
    val a = kept.select(col("fp_hash"), col("doc_id").as("id_a"))
    val b = kept.select(col("fp_hash"), col("doc_id").as("id_b"))
    a.join(b, Seq("fp_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash over `bits` of the 60-bit token hash: per bit, sign of
    * Σ(+1/-1) across tokens; assembled into one Long. One explode +
    * one groupBy with `bits` conditional sums — no UDF, fully
    * codegen'd.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 48): DataFrame = {
    val tok = df.select(col(idCol),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("t"))
      .select(col(idCol), graft.expressions.Md5Hash60.hash60Native(col("t")).as("h"))
    val sums: Seq[Column] = (0 until bits).map { b =>
      sum(when((shiftright(col("h"), b) % 2) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val assembled = (0 until bits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), assembled.as("simhash"))
  }

  /** Hamming distance between simhashes (near-dup predicate:
    * `hamming(a,b) <= t`).
    */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via band indexing (Manku/Jain/Sarma's
    * web-crawl dedup design): the `bits`-bit simhash splits into
    * `bands` equal slices, candidates share at least one slice
    * verbatim, and candidates verify by exact Hamming distance.
    *
    * EXACTNESS, not approximation: when `maxHamming < bands`, the
    * pigeonhole principle guarantees any pair within the Hamming
    * bound agrees on at least one full band — so the band join finds
    * EVERY qualifying pair and the result equals the all-pairs
    * predicate `hamming(a,b) <= maxHamming` exactly (the oracle gates
    * against precisely that, no band condition). The banding is
    * purely the 100 TB access path: an equi-join on (band, slice) —
    * LSH-banding shaped, AQE-balanced — instead of a quadratic scan.
    *
    * Returns (id_a, id_b, hamming), id_a < id_b.
    */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3): DataFrame =
    hashNearDupPairs(simhash(docs, idCol, textCol, bits), idCol, "simhash",
      bits, bands, maxHamming)

  /** Banded Hamming near-dup over ANY precomputed `bits`-bit Long
    * fingerprint column — the band-index machinery of
    * [[simhashNearDup]] factored out so every Hamming-space
    * fingerprint (text SimHash, image dHash q222, audio envelope
    * hashes) shares one join path with one exactness proof. Same
    * pigeonhole guarantee: `maxHamming < bands` ⇒ the (band, slice)
    * equi-join finds every pair within the bound, so the result
    * equals the quadratic all-pairs predicate exactly while shuffling
    * only `bands` rows per input. `shiftrightunsigned` (not
    * `shiftright`): a full 64-bit fingerprint with bit 63 set is a
    * negative Long, and an arithmetic shift would smear the sign bit
    * across every high band's slice.
    *
    * Returns (id_a, id_b, hamming), id_a < id_b.
    */
  def hashNearDupPairs(fps: DataFrame, idCol: String, hashCol: String,
      bits: Int = 64, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits > 0 && bits <= 64, "bits must be in 1..64")
    require(bits % bands == 0, "bits must divide evenly into bands")
    require(maxHamming < bands,
      "maxHamming must be < bands for the pigeonhole exactness guarantee")
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = fps.select(col(idCol), col(hashCol),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col(hashCol), b * width)
              .bitwiseAND(lit(mask)).as("slice"))
        }: _*)).as("bk"))
      .select(col(idCol), col(hashCol),
        col("bk.band").as("band"), col("bk.slice").as("slice"))
    val a = banded.select(col("band"), col("slice"),
      col(idCol).as("id_a"), col(hashCol).as("fp_a"))
    val b = banded.select(col("band"), col("slice"),
      col(idCol).as("id_b"), col(hashCol).as("fp_b"))
    a.join(b, Seq("band", "slice"))
      .filter(col("id_a") < col("id_b"))
      // a pair can match in several bands — dedup BEFORE the verify
      .select(col("id_a"), col("id_b"), col("fp_a"), col("fp_b"))
      .distinct()
      .withColumn("hamming", hamming(col("fp_a"), col("fp_b")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Cross-document repeated-segment removal — the "duplicated
    * paragraph/boilerplate line" cleanup of web-corpus pipelines
    * (headers, navigation, license blurbs that repeat across many
    * pages): text is cut into non-overlapping `segTokens`-token
    * segments, a segment appearing in more than `maxDocs` DISTINCT
    * documents is boilerplate, and each doc is reassembled from its
    * surviving segments in order.
    *
    * 100 TB shape: two partial-agg shuffles (segment→distinct-doc
    * counts, then doc reassembly) plus one shuffle join keyed by the
    * segment — O(corpus tokens), never all-pairs. The reassembly
    * sorts WITHIN each doc's collected segment list (array_sort over
    * a pos-keyed struct), not across the corpus.
    *
    * Output per doc: (idCol, n_segments, n_dropped, clean_text) —
    * the caller's id column name is preserved, and a doc whose text
    * tokenizes to zero segments (empty/whitespace) still appears,
    * with n_segments = n_dropped = 0 and clean_text = ''.
    */
  def dropRepeatedSegments(docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int, maxDocs: Int): DataFrame = {
    require(segTokens > 0 && maxDocs >= 0)
    val toks = TextAnalysis.tokens(col(textCol))
    val nSeg = ceil(size(toks) / lit(segTokens.toDouble)).cast("int")
    // sequence(0, -1) would yield a DESCENDING [0,-1] — guard empty
    val segs = when(size(toks) === 0,
        array().cast("array<struct<pos:int,seg:string>>"))
      .otherwise(transform(sequence(lit(0), nSeg - 1), i =>
        struct(i.cast("int").as("pos"),
          array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " ")
            .as("seg"))))
    // NOT Spread (measured r15): parallelizing the segment explosion
    // inflated total CPU ~4x (allocation contention) and LOST wall
    // clock — the window passes below re-shuffle anyway
    val exploded = docs
      .select(col(idCol).as("__seg_doc"), explode(segs).as("s"))
      .select(col("__seg_doc"), col("s.pos").as("pos"), col("s.seg").as("seg"))
    // per-segment distinct-doc count WITHOUT the agg + join-back round
    // trip: dense_rank over (seg → doc) then a partition max — two
    // window functions over ONE shuffle+sort, halving the operator's
    // exchanges (4 → 2). WindowExec spills, so a corpus-wide
    // boilerplate segment degrades to disk, not OOM (the skew shape
    // countDistinct handled via partial aggs — measured slower here).
    import org.apache.spark.sql.expressions.Window
    val bySegDoc = Window.partitionBy(col("seg")).orderBy(col("__seg_doc"))
    val bySeg = Window.partitionBy(col("seg"))
    val reassembled = exploded
      .withColumn("__dr", dense_rank().over(bySegDoc))
      .withColumn("n_docs", max(col("__dr")).over(bySeg))
      .groupBy(col("__seg_doc"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("n_docs") > maxDocs, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
            array_sort(collect_list(when(col("n_docs") <= maxDocs,
              struct(col("pos"), col("seg"))))),
            s => s.getField("seg")), " ").as("clean_text"))
    // left-join the input back: zero-segment docs would otherwise be
    // silently absent (they produce no exploded rows)
    docs.select(col(idCol))
      .join(reassembled, col(idCol) === col("__seg_doc"), "left")
      .select(col(idCol),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Quality-aware representative selection over [[dedupGroups]]
    * output: within each near-dup group keep the member with the
    * BEST score (ties to the smaller id) instead of the default
    * smallest-id keeper — the "keep the longest / highest-quality
    * copy" rule real dedup pipelines apply. One score join + one
    * per-group window over group-membership rows (bounded by group
    * sizes, never the corpus).
    *
    * Output: (group, id, score, is_best) for every grouped member.
    */
  def keepBestPerGroup(groups: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("group"))
      .orderBy(col(scoreCol).desc, col("id"))
    groups.select(col("id"), col("canonical_id").as("group"))
      .join(scored.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
      .withColumn("is_best",
        (row_number().over(w) === 1).cast("boolean"))
      .select(col("group"), col("id"), col(scoreCol), col("is_best"))
  }

  /** Cross-document duplicated-substring spans — the exact-substring
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022), re-expressed without a
    * suffix array: anchor on every L-token shingle, keep anchors
    * whose shingle occurs in >= minDocs distinct documents, and
    * coalesce overlapping/adjacent anchor windows [pos, pos+L) into
    * maximal per-doc spans. Any duplicated run of >= L consecutive
    * tokens is covered by at least one shared anchor, so span
    * coverage is exact for runs >= L (shorter repeats are invisible
    * by construction — L IS the threshold).
    *
    * 100 TB shape: shingle hashes ride the scan (native
    * [[graft.expressions.WordShingles]] + md5-60), the
    * document-frequency count is one shingle-keyed partial agg, the
    * anchor filter is a shingle-keyed join, and span coalescing is a
    * per-doc window over SURVIVING anchors only (bounded by each
    * doc's duplicated-anchor count, never the corpus). No all-pairs
    * product and no suffix-array global sort.
    *
    * Output one row per input doc (clean docs carry zeros):
    * (idCol, n_tokens, n_dup_spans, dup_tokens, max_span_tokens,
    * dup_ppm) where dup_ppm = ⌊1e6·dup_tokens / n_tokens⌋.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 1 && minDocs >= 2)
    import org.apache.spark.sql.expressions.Window
    val L = spanTokens
    val withN = docs.select(col(idCol).as("__doc"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"),
      col(textCol).as("__txt"))
    // WordShingles falls back to whole-text for short docs — guard to
    // docs with >= L tokens so every anchor is a true L-gram.
    val anchors = withN.filter(col("n_tokens") >= L)
      .select(col("__doc"), posexplode(
        graft.expressions.WordShingles.shinglesNative(col("__txt"), L))
        .as(Seq("pos", "gram")))
      .select(col("__doc"), col("pos"),
        graft.expressions.Md5Hash60.hash60Native(col("gram")).as("h"))
    val shared = anchors.groupBy(col("h"))
      .agg(countDistinct(col("__doc")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("h"))
    val dup = anchors.join(shared, "h").select(col("__doc"), col("pos"))
    val w = Window.partitionBy(col("__doc")).orderBy(col("pos"))
    val spans = dup
      // break when the previous anchor window can't touch this one
      .withColumn("__brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + L, 1).otherwise(0))
      .withColumn("__sid", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__doc"), col("__sid"))
      .agg((max(col("pos")) + lit(L) - min(col("pos"))).cast("long")
        .as("span_tokens"))
    val perDoc = spans.groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_tokens")).as("dup_tokens"),
        max(col("span_tokens")).as("max_span_tokens"))
    withN.select(col("__doc"), col("n_tokens"))
      .join(perDoc, Seq("__doc"), "left")
      .select(col("__doc").as(idCol), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        when(col("n_tokens") > 0,
          expr("(1000000 * coalesce(dup_tokens, 0L)) div n_tokens"))
          .otherwise(lit(0L)).as("dup_ppm"))
  }

  /** Incremental-ingest near-dup: probe a NEW batch against an
    * EXISTING corpus — the daily-crawl shape. The corpus is shingled
    * ONCE into an eagerly-checkpointed frame (the in-session stand-in
    * for the persisted LSH index a production deployment would keep
    * next to the data) that both the band build and the Jaccard
    * verify read, and candidates come from an equi-join of new bands
    * against index bands — never corpus × corpus and never new × corpus, so
    * ingesting a day's crawl against a 100 TB corpus costs one index
    * probe, not a re-dedup of the world. Jaccard verification touches
    * only the candidate set. Ids of the two frames must be disjoint.
    *
    * Output: one row per new doc — best verified corpus match
    * (ties: highest jaccard, then lowest corpus id), NULLs + is_novel
    * for docs with no match ≥ threshold.
    */
  def incrementalNearDup(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k % bands == 0, "k must divide evenly into bands")
    // The asymmetry IS the design: the new batch (a day's crawl) is
    // small next to the corpus, so the verify probes each side's OWN
    // shingle frame (batch rows never ride the corpus key and vice
    // versa) and AQE puts the batch-sized frames on the broadcast
    // side at runtime. Each side shingles ONCE into an EAGERLY
    // materialized frame — the in-session stand-in for the durable
    // LSH index a production deployment keeps next to the data: band
    // build, intersection count and set sizes all read the blocks.
    // Eager, not lazy persist: each frame feeds three consumers, and
    // under AQE the batch-sized subtrees become broadcast relations
    // whose build FUTURES race — with a lazy persist every future
    // re-ran the interpreted shingling over the raw text in parallel
    // before any block existed (measured: 251 s of task time on a
    // 13 s query). localCheckpoint(true) pays one materialization
    // job up front and every consumer reads Scan ExistingRDD.
    // Signatures come from the SAME deduped frame via
    // minhashSignatures — min() is duplicate-insensitive, so they
    // equal the row-form signatures (DedupSpec); the groupBy form
    // reuses the blocks where the row form would re-run k
    // interpreted array passes over every raw text.
    // Spread BEFORE the checkpoint: the distinct collapses to a
    // handful of AQE-coalesced partitions on local data, and the
    // checkpointed layout is what every downstream stage inherits —
    // un-spread, the signature groupBys and verify joins ran the
    // whole query at ~4-way parallelism (70 s task time on an 18 s
    // wall). Hash-spreading by the id also CO-partitions the frame
    // with the per-id groupBys downstream (no-op at scale).
    val shNew    = Spread.byKey(
        shingleHashes(newDocs, idCol, textCol, shingleN), idCol)
      .localCheckpoint(true)
    val shCorpus = Spread.byKey(
        shingleHashes(corpus, idCol, textCol, shingleN), idCol)
      .localCheckpoint(true)
    def bandsOf(sh: DataFrame, as: String) =
      lshBuckets(minhashSignatures(sh, idCol, k), idCol, bands, k / bands)
        .select(col("band"), col("sig"), col(idCol).as(as))
    // distinct FIRST (its map-side partial agg collapses the band
    // join's fan-out before anything shuffles), then an explicit-
    // width repartition of the deduped list: candidate rows are
    // BYTE-small (two ids) but each buys an array-intersect verify,
    // so AQE's byte-based coalescing would otherwise run the whole
    // verify as ONE task — a user-specified repartition pins the
    // width (AQE leaves user shuffle origins alone). Width from the
    // session, not a constant.
    val par = newDocs.sparkSession.sparkContext.defaultParallelism
    val cand = bandsOf(shNew, "id_a")
      .join(bandsOf(shCorpus, "id_b"), Seq("band", "sig"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .repartition(par, col("id_a"), col("id_b"))
    // asymmetric Jaccard verify over SET ARRAYS (optimization r15,
    // guide §2.3): the exploded form probed every candidate pair
    // against each side's (id, h) rows — candidates × per-doc set
    // size intermediate rows through a shuffle and a pair-keyed
    // count agg (the query's dominant CPU on a dense-vocabulary
    // corpus). Each side instead collapses ONCE to (id, h-set,
    // size) — doc-grain, so AQE broadcasts both — and the verify is
    // a map-only size(array_intersect) per candidate: identical
    // inter counts (the shingle frames are distinct sets), zero
    // pair-grain exchanges. A candidate with no overlap keeps its
    // row (inter = 0) exactly like the old left-join + fill(0).
    def setsOf(sh: DataFrame, as: String, szAs: String, hAs: String) =
      sh.groupBy(col(idCol))
        .agg(collect_list(col("h")).as(hAs),
          count(lit(1)).as(szAs))
        .withColumnRenamed(idCol, as)
    val verified = cand
      .join(setsOf(shNew, "id_a", "sz_a", "__ha"), Seq("id_a"))
      .join(setsOf(shCorpus, "id_b", "sz_b", "__hb"), Seq("id_b"))
      // size-ratio prefilter (r16, VERDICT r15 item 5): jaccard ≤
      // min(sz)/max(sz), double division is monotone in the real
      // quotient, and the survivor filter below uses the same >=
      // threshold comparison — so dropping ratio-incompatible
      // candidates here is provably lossless and skips their
      // array_intersect (the verify's dominant per-candidate cost on
      // the dense-vocabulary fixture where candidates ≈ all pairs)
      .filter(least(col("sz_a"), col("sz_b")).cast("double") /
        greatest(col("sz_a"), col("sz_b")).cast("double") >= threshold)
      .withColumn("inter",
        size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      // raw ratio of exact integers — identical doubles in any engine
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("jaccard").desc, col("id_b"))
    // best is ≤ one row per NEW doc — checkpoint it so the final
    // left join broadcasts a tiny materialized frame instead of
    // re-running the whole verify subtree inside a single-threaded
    // broadcast build (guide §5)
    val best = verified.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id_a"), col("id_b").as("match_id"),
        col("jaccard").as("match_jaccard"))
      .localCheckpoint(true)
    newDocs.select(col(idCol))
      .join(best, col(idCol) === col("id_a"), "left")
      .select(col(idCol), col("match_id"), col("match_jaccard"),
        col("match_id").isNull.as("is_novel"))
  }

  /** EXACT set-similarity join by prefix filtering (AllPairs/PPJoin,
    * Bayardo et al. / Xiao et al.) — the deterministic complement to
    * MinHash banding: finds EVERY pair of documents whose distinct-
    * token Jaccard meets `thresholdPct`/100, with zero false
    * negatives and no randomized signatures.
    *
    * Why it prunes: order each document's tokens rare-first (global
    * document frequency asc, token asc — a total order). For Jaccard
    * J(a,b) ≥ t the overlap obeys O ≥ t·max(|a|,|b|) (J ≤ |b|/|a|
    * forces |b| ≥ t·|a|, and O(1+t) ≥ t(|a|+|b|)), so by pigeonhole
    * the first |d| − ⌈t·|d|⌉ + 1 tokens of EACH side — its "prefix" —
    * must share at least one token with any qualifying partner.
    * Candidates therefore come from an equi-join on PREFIX tokens
    * only; rare-first ordering makes those prefixes the least
    * frequent tokens, so join fan-out is minimal and a stopword can
    * never become a hot key. A size filter (100·|b| ≥ tPct·|a|, both
    * directions) prunes length-incompatible pairs before the verify.
    *
    * Scale shape: token frequencies are one vocabulary-bounded agg;
    * per-doc prefix ranks are a DOC-keyed window (no global rank);
    * the candidate join runs on prefix tokens (df-capped via
    * `maxPrefixDf`: a prefix token shared by more docs than that is
    * dropped from CANDIDATE GENERATION only — exactness holds
    * whenever maxPrefixDf ≥ the largest qualifying component's
    * breadth; pass Int.MaxValue for the unconditional guarantee);
    * verification touches candidates only. All gate arithmetic is
    * integer (cross-multiplied threshold, ppm readout).
    *
    * Output: (id_a, id_b, inter, sz_a, sz_b, jacc_ppm) for every pair
    * with id_a < id_b and 100·inter ≥ tPct·(sz_a + sz_b − inter).
    */
  def prefixFilterJaccardJoin(docs: DataFrame, idCol: String,
      textCol: String, thresholdPct: Int,
      maxPrefixDf: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thresholdPct >= 1 && thresholdPct <= 100)
    // the distinct token frame feeds FOUR consumers (df counts, doc
    // sizes, prefix ranks, intersection verify) — materialize it
    // EAGERLY so the text is shingled exactly once: with a lazy
    // persist, AQE's independent map stages and broadcast-build
    // futures (the doc-grain sz side broadcasts) all start against a
    // cold cache and each re-runs the shingling in parallel (the
    // q214 racing-futures lesson); blocks are freed by resetState /
    // the ContextCleaner
    val toks = Spread.byKey(docs
      .select(col(idCol).as("id"),
        explode(graft.expressions.WordShingles.shinglesNative(
          col(textCol), 1)).as("tok"))
      // an empty/whitespace-only doc shingles to [""] — drop it (it
      // has no token SET; the SQL rendition of tokens() yields [])
      .filter(length(col("tok")) > 0)
      .distinct(), "id")
      .localCheckpoint(true)
    val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val sz = toks.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // rare-first rank WITHIN each doc (doc-keyed window — scalable);
    // prefix keeps rank ≤ sz − ⌈t·sz⌉ + 1
    val ranked = toks.join(df, Seq("tok")).join(sz, Seq("id"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))))
      .filter(col("rnk") <=
        col("sz") - expr(s"(${thresholdPct} * sz + 99) div 100") + 1)
      .filter(col("df") <= maxPrefixDf)
      .select(col("tok"), col("id"), col("sz"))
    val cand = ranked.select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"))
      .join(ranked.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(lit(100) * col("sz_b") >= lit(thresholdPct) * col("sz_a") &&
        lit(100) * col("sz_a") >= lit(thresholdPct) * col("sz_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exploded verify, NOT the q214 set-array form (measured r15):
    // array_intersect over STRING token arrays lost to the exploded
    // token join here (11.2 s vs 9.0 warm — per-candidate string
    // hash-sets cost more than the narrow (id, tok) shuffle the
    // integer-hash shingle verifies avoid)
    val inter = cand
      .join(toks.select(col("id").as("id_a"), col("tok")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .filter(lit(100) * col("inter") >=
        lit(thresholdPct) * (col("sz_a") + col("sz_b") - col("inter")))
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
        col("sz_b"),
        expr("(1000000 * inter) div (sz_a + sz_b - inter)").as("jacc_ppm"))
  }

  /** Bounded edit-distance self-join — all pairs within Levenshtein
    * distance ≤ `maxDist`, via EXACT-LENGTH blocking: the build side
    * keys on its own length, the probe side visits the 2·maxDist+1
    * compatible lengths. dist ≤ k forces |len_a − len_b| ≤ k, so the
    * probe is COMPLETE — the blocking is a pure access path, provably
    * lossless (same discipline as [[prefixFilterJaccardJoin]]'s
    * prefix filter) — and each pair meets on exactly one key (the
    * left side's own length), so no dedup pass is needed. This
    * replaces ⌊len/bandWidth⌋ band blocking (optimization r15): the
    * length filter that used to run AFTER the join is now IN the join
    * key, cutting candidate volume ~(3·bandWidth)/(2k+1)×, and the
    * key space is every distinct length instead of a handful of
    * bands. The key is further SALTED (guide §2.5): a title-length
    * key is intrinsically hot (real corpora concentrate on few
    * lengths), so the build side takes hash(id) % S and the probe
    * side replicates ×S — the quadratic verify work splits S ways
    * while the replicated probe rows stay linear (and tiny next to
    * the verify). S is capped small; production derives it from
    * key-occupancy stats.
    *
    * The distance itself uses Spark's thresholded `levenshtein(l, r,
    * k)` — the banded DP that walks only the 2k+1 diagonal and bails
    * out at −1 once the bound is exceeded — so per-candidate cost is
    * O(k·len), not O(len²). 100 TB: one equi-join shuffle on the
    * (length, salt) key; candidate volume is bounded by same-length
    * occupancy, never all-pairs. Production tightens further with
    * PassJoin-style segment filters; the length path is the exact,
    * zero-loss baseline.
    *
    * Caller contract: ids unique, one row per id. Null text is
    * treated as empty. `bandWidth` is deprecated and ignored: it no
    * longer drives the access path, and the old `bandWidth > maxDist`
    * guard is gone, so any value is accepted. The parameter stays
    * only for source compatibility.
    */
  def editDistanceJoin(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int, @deprecated("unused since exact-length blocking; " +
        "kept for source compatibility", "r16") bandWidth: Int = 16): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // bandWidth no longer participates in the access path (ADVICE
    // r15): exact-length blocking is complete on its own, so the old
    // `bandWidth > maxDist` guard would only reject calls that are
    // now perfectly safe. The parameter is retained (deprecated) so
    // existing call sites keep compiling.
    val salt = math.min(16,
      math.max(1, docs.sparkSession.sparkContext.defaultParallelism / 2))
    val base = docs.select(col(idCol).as("__id"),
        coalesce(col(textCol).cast("string"), lit("")).as("__s"))
      .withColumn("__len", length(col("__s")).cast("long"))
    val a = base.select(col("__len").as("__lk"),
      pmod(hash(col("__id")), lit(salt)).as("__salt"),
      col("__id").as("id_a"), col("__s").as("s_a"),
      col("__len").as("len_a"))
    val b = base.select(
        explode(sequence(col("__len") - maxDist, col("__len") + maxDist))
          .as("__lk"),
        col("__id").as("id_b"), col("__s").as("s_b"),
        col("__len").as("len_b"))
      .select(col("__lk"),
        explode(sequence(lit(0), lit(salt - 1))).as("__salt"),
        col("id_b"), col("s_b"), col("len_b"))
    // pin the join width with user repartitions on both sides: the
    // inputs are BYTE-small (short strings) so AQE's byte-based
    // coalescing would run the quadratic levenshtein reduce as one
    // task, undoing the salt — user shuffle origins are left alone
    val par = docs.sparkSession.sparkContext.defaultParallelism
    a.repartition(par, col("__lk"), col("__salt"))
      .join(b.repartition(par, col("__lk"), col("__salt")),
        Seq("__lk", "__salt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(col("s_a"), col("s_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("len_a"), col("len_b"),
        col("dist"))
  }

  /** Cross-document duplicated-span REMOVAL — the apply half of the
    * Lee et al. 2022 exact-substring rule whose detection half is
    * [[dupSpans]]: an L-token anchor shared by ≥ minDocs documents is
    * owned by the minimum-id document; every NON-owner drops the
    * anchor's L covered token positions (all overlapping anchors'
    * coverage unions), and the survivors reassemble in position
    * order. The owner keeps every instance — exactly q330's
    * keep-first discipline one grain finer.
    *
    * 100 TB: anchor hashing rides the scan (native shingles); the
    * (hash → owner, df) table is ONE partial agg; coverage expansion
    * is a bounded ×L explode of only the FOREIGN anchors; the
    * anti-join and reassembly are doc-keyed. No driver state.
    * Output text is in lowered-token form (the hash-grain alphabet).
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 1 && minDocs >= 2)
    val L = spanTokens
    val toks = docs.select(col(idCol).as("__doc"),
      posexplode(TextAnalysis.tokens(lower(col(textCol))))
        .as(Seq("tpos", "tok")))
    val base = docs.select(col(idCol).as("__doc"),
      size(TextAnalysis.tokens(lower(col(textCol)))).cast("long")
        .as("n_tokens"),
      col(textCol).as("__txt"))
    val anchors = base.filter(col("n_tokens") >= L)
      .select(col("__doc"), posexplode(
        graft.expressions.WordShingles.shinglesNative(col("__txt"), L))
        .as(Seq("pos", "gram")))
      .select(col("__doc"), col("pos"),
        graft.expressions.Md5Hash60.hash60Native(col("gram")).as("h"))
    val owners = anchors.groupBy(col("h"))
      .agg(min(col("__doc")).as("__keep"),
        countDistinct(col("__doc")).as("__nd"))
      .filter(col("__nd") >= minDocs)
    val foreign = anchors.join(owners, Seq("h"))
      .filter(col("__doc") =!= col("__keep"))
    val covered = foreign.select(col("__doc"),
        explode(sequence(col("pos"), col("pos") + (L - 1))).as("tpos"))
      .distinct()
    val kept = toks.join(covered, Seq("__doc", "tpos"), "left_anti")
    val re = kept.groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("tpos"), col("tok")))), x => x.getField("tok")),
          " ").as("text_dedup"))
    base.select(col("__doc"), col("n_tokens"))
      .join(re, Seq("__doc"), "left")
      .select(col("__doc").as(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Content-defined chunking (the rsync/LBFS/FastCDC family): cut a
    * document wherever its k-char Rabin–Karp window hash ≡ 0 mod
    * 2^modBits, so chunk boundaries follow CONTENT — an insertion
    * early in a doc shifts every byte offset but only the one chunk
    * containing the edit changes hash, which is the whole point
    * versus fixed-size blocks. Returns one row per chunk: (id,
    * chunk_idx, off, len, chunk_md5, is_first) where is_first marks
    * the corpus-wide first occurrence (owner = min (id, idx)) — the
    * storage-dedup savings readout is 1 − distinct/total.
    *
    * 100 TB: the roll is the native O(n) [[graft.expressions
    * .RollingHash]]; boundary assembly is a doc-keyed window; global
    * chunk ownership is ONE partial agg on chunk_md5. Basic cut rule
    * only (no min/max chunk clamps — those make the scan sequential;
    * FastCDC's normalized chunking is the production extension).
    */
  def contentDefinedChunks(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 16, modBits: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && modBits >= 1 && modBits < 62)
    val mod = 1L << modBits
    val d = docs.select(col(idCol).as("__id"),
      coalesce(col(textCol).cast("string"), lit("")).as("__s"))
    val cuts = d.select(col("__id"), col("__s"),
        posexplode(graft.expressions.RollingHash.rollingNative(
          col("__s"), k)).as(Seq("__p", "__h")))
      .filter(col("__h") % mod === 0 && col("__p") > 0)
      .select(col("__id"), col("__s"), col("__p").cast("long").as("off"))
    val bounds = d.select(col("__id"), col("__s"), lit(0L).as("off"))
      .union(cuts).distinct()
    val w = Window.partitionBy(col("__id")).orderBy(col("off"))
    val chunks = bounds
      .withColumn("chunk_idx", row_number().over(w).cast("long") - 1)
      .withColumn("len",
        coalesce(lead(col("off"), 1).over(w),
          length(col("__s")).cast("long")) - col("off"))
      .filter(col("len") > 0) // empty doc → zero chunks, not one
      .withColumn("chunk_md5",
        md5(col("__s").substr(col("off") + 1, col("len"))))
      .select(col("__id"), col("chunk_idx"), col("off"), col("len"),
        col("chunk_md5"))
    val owners = chunks.groupBy(col("chunk_md5"))
      .agg(min(struct(col("__id"), col("chunk_idx"))).as("__o"))
    chunks.join(owners, Seq("chunk_md5"))
      .withColumn("is_first",
        col("__id") === col("__o.__id") &&
          col("chunk_idx") === col("__o.chunk_idx"))
      .select(col("__id").as(idCol), col("chunk_idx"), col("off"),
        col("len"), col("chunk_md5"), col("is_first"))
  }

  /** PassJoin segment-filtered edit-distance self-join (Li, Deng &
    * Feng, VLDB 2011) — the CONTENT-selective scale path where
    * [[editDistanceJoin]]'s length bands are the exact baseline.
    *
    * Pigeonhole core: partition s (length m) into k+1 segments; any t
    * with ed(s,t) ≤ k has ≥ 1 segment untouched by every edit, so
    * that segment appears VERBATIM in t, shifted by at most the net
    * indels before it (≤ k). Candidate generation is therefore an
    * EQUI-join: the index side emits each string's k+1 (segment text,
    * segment idx, m) keys; the probe side emits, for every candidate
    * partner length m ∈ [len−k, len+k] and segment j, the substrings
    * of itself at the segment's position ±k — a CONSTANT (2k+1)·(k+1)
    * ·(≤2k+1) keys per string. Both directions of a true pair carry
    * the guarantee, so keeping only (index id < probe id) loses
    * nothing. Survivors get the thresholded O(k·n) banded-DP verify.
    *
    * 100 TB: join fan-in is per-(segment-text) — content-proportional
    * like the PPJoin prefix filter, NOT length-cohort-quadratic; the
    * position+index+length key splits even popular substrings. One
    * equi-join shuffle + one verify join; no window, no driver state.
    * Degenerate strings shorter than k+1 chars can't be segmented;
    * they pair against everything ≤ 2k chars through a single "tiny"
    * bucket (bounded: both sides are ≤ 2k-char strings).
    *
    * Same output contract as [[editDistanceJoin]] — including the
    * "ids unique, one row per id; null text ≡ empty" caller
    * contract — and provably the same rows.
    */
  def passJoinEditDistance(docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val k = maxDist
    val k1 = k + 1
    val base = docs.select(col(idCol).as("__id"),
        coalesce(col(textCol).cast("string"), lit("")).as("__s"))
      .withColumn("__m", length(col("__s")).cast("long"))

    // seg-j start/len for a length-m string: first k1−rem segments
    // get ⌊m/k1⌋ chars, the last rem get one extra
    def segBase(m: Column) = ((m - m % k1) / k1).cast("long")
    def segLen(m: Column, j: Column) =
      segBase(m) + when(j > lit(k1.toLong) - m % k1, 1L).otherwise(0L)
    def segStart(m: Column, j: Column) =
      lit(1L) + (j - 1L) * segBase(m) +
        greatest(j - 1L - (lit(k1.toLong) - m % k1), lit(0L))

    val emptyLongs = array().cast("array<bigint>")
    def seqSafe(lo: Column, hi: Column) =
      when(lo <= hi, sequence(lo, hi)).otherwise(emptyLongs)

    // ---- index side: the k+1 segments of every (segmentable) string
    val indexKeys = base.filter(col("__m") >= k1)
      .select(col("__id").as("id_s"), col("__s").as("s_s"),
        col("__m").as("m"),
        explode(transform(sequence(lit(1L), lit(k1.toLong)), j =>
          struct(j.as("j"), segStart(col("__m"), j).as("p"),
            segLen(col("__m"), j).as("l")))).as("g"))
      .select(col("id_s"), col("m"), col("g.j").as("j"),
        col("s_s").substr(col("g.p"), col("g.l")).as("seg"))

    // ---- probe side: for each partner length m and segment j, my
    // substrings at the segment position ±k (clamped in-bounds)
    val probeKeys = base.filter(col("__m") >= 1)
      .select(col("__id").as("id_t"), col("__s").as("s_t"),
        col("__m").as("mt"),
        explode(flatten(transform(
          seqSafe(greatest(col("__m") - k, lit(k1.toLong)), col("__m") + k),
          mC => flatten(transform(sequence(lit(1L), lit(k1.toLong)), j =>
            transform(
              seqSafe(greatest(segStart(mC, j) - k, lit(1L)),
                least(segStart(mC, j) + k,
                  col("__m") - segLen(mC, j) + 1L)),
              q => struct(mC.as("m"), j.as("j"), q.as("q"),
                segLen(mC, j).as("l")))))))).as("g"))
      .select(col("id_t"), col("g.m").as("m"), col("g.j").as("j"),
        col("s_t").substr(col("g.q"), col("g.l")).as("seg"))

    val mainCand = indexKeys.join(probeKeys, Seq("m", "j", "seg"))
      .filter(col("id_s") < col("id_t"))
      .select(col("id_s").as("id_a"), col("id_t").as("id_b"))

    // ---- tiny bucket: strings of ≤ k chars can't be segmented; any
    // partner within distance k has ≤ 2k chars
    val tiny = base.filter(col("__m") <= k)
      .select(lit(1).as("__k"), col("__id").as("id_s"))
    val small = base.filter(col("__m") <= 2L * k)
      .select(lit(1).as("__k"), col("__id").as("id_t"))
    val tinyCand = tiny.join(small, Seq("__k"))
      .filter(col("id_s") =!= col("id_t"))
      .select(least(col("id_s"), col("id_t")).as("id_a"),
        greatest(col("id_s"), col("id_t")).as("id_b"))

    val cand = mainCand.union(tinyCand).distinct()

    // ---- verify
    cand
      .join(base.select(col("__id").as("id_a"), col("__s").as("s_a"),
        col("__m").as("len_a")), Seq("id_a"))
      .join(base.select(col("__id").as("id_b"), col("__s").as("s_b"),
        col("__m").as("len_b")), Seq("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= k)
      .withColumn("dist",
        levenshtein(col("s_a"), col("s_b"), k).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("len_a"), col("len_b"),
        col("dist"))
  }
}
