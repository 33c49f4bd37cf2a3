package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Tables._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (builder prompt / SURVEY.md §7.1.4).
  * Everything is built from codegen'd built-ins and higher-order array
  * functions; no UDFs, every stage keyed and distributable. The one
  * driver-side step is sized: [[connectedComponents]] runs union-find on
  * the driver only for an edge set that fits
  * `spark.sql.autoBroadcastJoinThreshold`, and the distributed loop
  * otherwise.
  *
  * Scale design:
  *  - exact dedup: hash-groupBy on the text (shuffle on a 64-bit digest,
  *    not the full text, at 100 TB you'd group on xxhash64(text) and
  *    verify within-group).
  *  - MinHash/LSH: per-doc signature (k=64 permutations approximated by
  *    k seeded xxhash64 min-hashes — map-side only), banded into b=16
  *    bands of r=4; candidate generation is a self-join on (band, band
  *    signature) — a shuffle keyed by tiny band hashes that only
  *    materializes same-bucket pairs, never the full cross product.
  *  - SimHash: 64-bit fingerprint via per-token hash bit-voting, banded
  *    into 4×16-bit chunks for Hamming-distance candidate pairs.
  */
object TextOps {

  private val tokens: Column = split(col("text"), " ")

  // ---- oracle-gated queries -------------------------------------------

  // exact dedup: one row per distinct text, keeper = min doc_id
  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  /** Normalized exact dedup — the canonicalization step real pipelines
    * run BEFORE hashing (CCNet/RefinedWeb normalize case, punctuation
    * and whitespace so trivially-reformatted copies collapse): groups on
    * md5(lowercase → non-alphanumeric runs → single space → trim), so
    * the shuffle key is a 32-byte digest, never the text. Per group:
    * min-id keeper, copy count, and how many EXACT-text variants the
    * normalization united (n_variants > 1 ⟺ this group is invisible to
    * plain `dedup_exact` — the value-add measured, not assumed).
    * Patterns stay in the RE2∩Java-regex common subset (the pii_redact
    * rule) so both engines normalize identically. */
  private def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm",
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
      .groupBy(md5(col("norm")).as("nk"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("text")).as("n_variants"))
      .select(col("keep_id"), col("n_copies"), col("n_variants"))
      .orderBy("keep_id")

  private val dedupNormalizedOracle: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
      |  count(DISTINCT text) AS n_variants
      |FROM (SELECT doc_id, text,
      |        md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS nk
      |      FROM documents)
      |GROUP BY nk ORDER BY keep_id""".stripMargin

  // per-language corpus statistics (exact integer aggregates)
  private def textStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("n_tok", size(tokens).cast(LongType))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tok")).as("total_tokens"),
        max(col("n_tok")).as("max_tokens"))
      .orderBy("lang")

  // per-doc quality scoring: type-token ratio + chars/token
  private def textQuality(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("n_tok", size(tokens))
      .withColumn("n_distinct_tok", size(array_distinct(tokens)))
      .select(col("doc_id"), col("n_tok"), col("n_distinct_tok"),
        round(col("n_distinct_tok").cast(DoubleType) / col("n_tok"), 4).as("ttr"),
        round(col("n_chars").cast(DoubleType) / col("n_tok"), 4).as("chars_per_tok"))
      .orderBy("doc_id")

  // function-word language ID (marker heuristic), scored against the
  // labeled lang column
  private def textLangid(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("pred_lang",
        when(col("text").contains(" the "), "en")
          .when(col("text").contains(" le "), "fr")
          .when(col("text").contains(" der "), "de")
          .when(col("text").contains(" el "), "es")
          .otherwise("unk"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  // per-doc token counting two ways: whitespace words and a BPE-ish
  // subword regex (alnum runs + single punctuation marks) — the token
  // budget estimator of a training-data pipeline; pure map-side codegen
  private def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val bpeish = regexp_extract_all(col("text"), lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))
    documents(spark, dir)
      .select(col("doc_id"),
        size(tokens).as("n_ws_tokens"),
        size(bpeish).as("n_bpe_tokens"),
        round(col("n_chars").cast(DoubleType) / size(bpeish), 4).as("chars_per_bpe_token"))
      .orderBy("doc_id")
  }

  // n-gram Jaccard near-dup pairs, blocked by (lang, n_chars) so the
  // pair space stays linear-ish in corpus size
  private def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(tokens).as("toks"))
    val a = d.toDF("a_id", "lang", "n_chars", "a_toks")
    val b = d.toDF("b_id", "lang", "n_chars", "b_toks")
    a.join(b, Seq("lang", "n_chars"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("jac",
        size(array_intersect(col("a_toks"), col("b_toks"))).cast(DoubleType) /
          size(array_union(col("a_toks"), col("b_toks"))))
      .filter(col("jac") >= 0.8)
      .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jac"))
      .orderBy("a_id", "b_id")
  }

  /** Incremental ingestion dedup: flag each INCOMING document (one
    * source) that duplicates or near-duplicates the EXISTING corpus (the
    * other sources) — the daily-crawl-vs-trained-corpus admission check.
    * Asymmetric by construction: corpus-internal and batch-internal
    * duplicates are out of scope here ([[dedupMinhashLsh]] owns those).
    *
    * This oracle-gated variant matches on (a) identical token sets via
    * the 64-bit set digest at any blocking, plus (b) blocked
    * (lang, n_chars) exact Jaccard >= `threshold` — the same
    * DuckDB-expressible shape as [[dedupNgramJaccard]]. At corpus scale
    * the near side swaps to the asymmetric banded-LSH join
    * ([[dedupIncomingLsh]]); the output contract is identical. */
  def dedupIncoming(spark: SparkSession, dir: String,
                    incomingSource: String = "src0",
                    threshold: Double = 0.8): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    val d = documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"),
        array_sort(array_distinct(tokens)).as("t"))
    val inc = d.filter(col("source") === incomingSource)
      .select(col("doc_id").as("in_id"), col("lang"), col("n_chars"), col("t"))
    val corp = d.filter(col("source") =!= incomingSource)
      .select(col("doc_id").as("corp_id"), col("lang").as("c_lang"),
        col("n_chars").as("c_n_chars"), col("t").as("ct"))
    // identical sets: join on the cheap scalar digest (SOH-separated like
    // every set digest in this file), verify on the arrays — independent
    // of any blocking column
    val exact = inc.withColumn("k", xxhash64(concat_ws("\u0001", col("t"))))
      .join(corp.withColumn("k", xxhash64(concat_ws("\u0001", col("ct")))), "k")
      .filter(col("t") === col("ct"))
      .select(col("in_id"), col("corp_id"), lit(1.0).as("jac"))
    // sorted-merge intersect (the arrays arrive sorted+distinct) — same
    // reason the LSH verify stage uses it over size(array_intersect)
    val inter = graft.functions.TextSignatureFunctions
      .sorted_intersect_count(col("t"), col("ct"))
    val near = inc.join(corp,
        col("lang") === col("c_lang") && col("n_chars") === col("c_n_chars"))
      .withColumn("jac", inter.cast(DoubleType) /
        (size(col("t")) + size(col("ct")) - inter))
      .filter(col("jac") >= threshold)
      .select(col("in_id"), col("corp_id"), col("jac"))
    admissionOutput(inc.select(col("in_id").as("doc_id")), exact.unionAll(near))
  }

  /** Shared output assembly of the two [[dedupIncoming]] variants: a
    * (in_id, corp_id, jac) match list folds to per-incoming-doc admission
    * columns. One implementation so the "same output contract" guarantee
    * between the variants cannot drift. */
  private def admissionOutput(incIds: DataFrame, matchList: DataFrame): DataFrame = {
    val matches = matchList
      .groupBy(col("in_id"), col("corp_id")).agg(max(col("jac")).as("jac"))
      .groupBy(col("in_id"))
      .agg(count(lit(1)).as("n_matches"), round(max(col("jac")), 4).as("best_jac"))
    incIds
      .join(matches.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_jac"), lit(0.0)).as("best_jac"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"))
      .orderBy("doc_id")
  }

  /** [[dedupIncoming]]'s corpus-scale near side: asymmetric banded
    * MinHash-LSH — the corpus representatives band once (in production,
    * a maintained index), the incoming batch bands and equi-joins on
    * (band, band_hash), and only cross-side candidates verify with the
    * exact hashed-token Jaccard. No corpus×corpus or batch×batch pairs
    * are ever generated, so a small batch against a huge corpus costs
    * |batch| signatures + candidate verification — not a corpus self-join.
    * Same output contract as [[dedupIncoming]] (LSH recall at the
    * threshold applies, as in [[dedupMinhashLsh]]). */
  def dedupIncomingLsh(spark: SparkSession, dir: String,
                       incomingSource: String = "src0",
                       k: Int = 64, bands: Int = 8,
                       threshold: Double = 0.8): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    val d = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(transform(tokens, t => xxhash64(t)))).as("htoks"))
      // five consuming subtrees (two banded sides, two verify re-attach
      // joins, the admission anchor): persist so the documents scan +
      // tokenize + hash runs once, unpersisted before return like
      // dedupMinhashLsh's reps
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val inc = d.filter(col("source") === incomingSource)
      val corp = d.filter(col("source") =!= incomingSource)
      val cand = bandedSignature(inc, "in_id", k, bands)
        .join(bandedSignature(corp, "corp_id", k, bands), Seq("band", "band_hash"))
        .select(col("in_id"), col("corp_id")).distinct()
      val inter = graft.functions.TextSignatureFunctions
        .sorted_intersect_count(col("t"), col("ct"))
      val matchList = cand
        .join(inc.select(col("doc_id").as("in_id"), col("htoks").as("t")), "in_id")
        .join(corp.select(col("doc_id").as("corp_id"), col("htoks").as("ct")), "corp_id")
        .withColumn("jac", inter.cast(DoubleType) /
          (size(col("t")) + size(col("ct")) - inter))
        .filter(col("jac") >= threshold)
        .select(col("in_id"), col("corp_id"), col("jac"))
      admissionOutput(inc.select(col("doc_id")), matchList)
        .localCheckpoint(true)
    } finally d.unpersist()
  }

  // ---- signature-based dedup (no SQL oracle; unit-tested) -------------

  /** k seeded min-hashes over the token set (map-side HOFs only). */
  def minhashSignature(toks: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), seed =>
      array_min(transform(toks, t => xxhash64(t, seed))))

  /** One representative document per distinct TOKEN SET: min doc_id per
    * 64-bit set digest. SOH (\u0001) separator: distinct sets with
    * ambiguous concatenations ({"a","bc"} vs {"ab","c"}) must not
    * collide; tokens are space-split so they cannot contain it. Shared
    * by [[dedupMinhashLsh]] (phase 0) and the containment gate so both
    * agree on what a representative is.
    *
    * Representatives carry the token set PRE-HASHED (`htoks`: sorted
    * distinct xxhash64 of each token) rather than as strings -- every
    * downstream consumer (MinHash signature, exact-Jaccard verify, the
    * containment gate) only needs set identity, and fixed-width longs
    * make the persisted reps, the verify broadcast, and the two-pointer
    * intersect loop all cheaper than variable-length UTF8. A 64-bit
    * token collision folds two tokens into one set element -- vanishingly
    * rare and applied consistently on both sides of every comparison. */
  private def setReps(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), array_sort(array_distinct(tokens)).as("toks"))
      .withColumn("set_key", xxhash64(concat_ws("\u0001", col("toks"))))
      .withColumn("htoks",
        array_sort(array_distinct(transform(col("toks"), t => xxhash64(t)))))
      .groupBy(col("set_key"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("htoks")).as("htoks"))

  /** MinHash-LSH near-dup pairs, scale-hardened:
    *
    * Phase 0 collapses documents with IDENTICAL token sets to one
    * representative (hash-groupBy on a 64-bit set digest). Without this,
    * boilerplate-heavy corpora (and this synthetic one) put thousands of
    * identical signatures in every band bucket and the candidate join
    * goes quadratic — the classic LSH skew failure at scale. Exact
    * duplicates don't need MinHash; they're already caught by the digest.
    *
    * Phase 1 runs banded MinHash over the distinct representatives only:
    * signature is map-side HOF math, candidates come from an equi-join on
    * (band, band-hash) of tiny scalar keys (no arrays in shuffle keys),
    * pairs are deduped on ids alone, and token sets are re-attached by id
    * afterwards for the exact-Jaccard verification.
    *
    * The representatives (token arrays post-shuffle) feed FOUR plan
    * branches (both band-join sides + both verify-join sides); they are
    * persisted so the documents scan + set-digest shuffle runs once, not
    * four times — and unpersisted before returning (the result is
    * materialized by an eager localCheckpoint, so nothing stays in the
    * session cache to slow later queries; at warehouse scale the
    * equivalent is checkpointing to a temp table). Exact-Jaccard
    * verification uses the sorted-merge
    * [[graft.functions.SortedIntersectCount]] — the arrays arrive
    * sorted+distinct, so intersection is a two-pointer merge and union
    * size is |a|+|b|-inter; no per-pair hash sets.
    *
    * Oversized (band, band_hash) buckets — boilerplate families that
    * phase 0's exact collapse cannot touch — are star-reduced instead of
    * all-paired; see the in-body comment at the guard. */
  def dedupMinhashLsh(spark: SparkSession, dir: String,
                      k: Int = 64, bands: Int = 8, threshold: Double = 0.8,
                      maxBucket: Int = 2000): DataFrame = {
    // b=8, r=8 puts the LSH s-curve threshold at (1/8)^(1/8) ≈ 0.77 —
    // tuned to the 0.8 verify threshold so few candidates fail the exact
    // Jaccard check (candidate precision is what the verify join costs)
    val reps = setReps(spark, dir)
      // persisted for the four consuming branches, UNPERSISTED before
      // return: the result is eagerly localCheckpoint'ed below, so no
      // cache entry outlives this call to degrade later session queries
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try minhashPairsOverReps(spark, reps, k, bands, threshold, maxBucket)
    finally reps.unpersist()
  }

  /** (id, band, band_hash) rows of a frame carrying `htoks` — THE banding
    * expression, shared by the self-join LSH ([[minhashPairsOverReps]])
    * and the asymmetric ingestion LSH ([[dedupIncomingLsh]]). One
    * implementation: a seed or slice drift between the two would
    * silently break their documented agreement on what collides. */
  private def bandedSignature(side: DataFrame, idAs: String,
                              k: Int, bands: Int): DataFrame = {
    val r = k / bands
    side
      .withColumn("sig",
        graft.functions.TextSignatureFunctions.minhash_signature(col("htoks"), k))
      .select(col("doc_id").as(idAs),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(slice(col("sig"), b * lit(r) + lit(1), lit(r)).cast(StringType), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** [[dedupMinhashLsh]] core over an already-persisted representative
    * table — split out so the containment gate can share one reps
    * scan/shuffle with the pair computation instead of re-deriving it. */
  private def minhashPairsOverReps(spark: SparkSession,
                                   reps: DataFrame,
                                   k: Int, bands: Int, threshold: Double,
                                   maxBucket: Int): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    val banded = bandedSignature(reps, "doc_id", k, bands)
      // tiny (reps × bands rows of scalars) but feeds three subtrees
      // (both all-pair sides + star side); persisting it computes the
      // k-hash signature once instead of per-subtree
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Oversized-bucket guard: a (band, band_hash) bucket of n members
    // emits ~n²/2 candidates — near-identical boilerplate FAMILIES (phase
    // 0 only collapses *identical* sets) can pile thousands of members
    // into one bucket and go quadratic. Buckets over `maxBucket` fall
    // back to STAR candidates (every member paired with the bucket's
    // minimum id): O(n) instead of O(n²), every member still reaches its
    // family through the hub (connected-components recall unchanged),
    // and hub pairs still pass exact-Jaccard verification. Only
    // member–member pairs of mega-buckets are not emitted — the
    // pair-level price of bounded cost on adversarial corpora. The
    // default cap is far above anything a natural bucket reaches. Size
    // and hub are one window over the bucket, not an aggregate joined
    // back, so the self-join below reuses the window's partitioning.
    val bucket = Window.partitionBy(col("band"), col("band_hash"))
    val sized = banded.select(col("*"), count(lit(1)).over(bucket).as("__n"),
      min(col("doc_id")).over(bucket).as("__hub"))
    val small = sized.filter(col("__n") <= maxBucket)
    val allPairs = small.select(col("doc_id").as("a_id"), col("band"), col("band_hash"))
      .join(small.select(col("doc_id").as("b_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val starPairs = sized.filter(col("__n") > maxBucket && col("doc_id") =!= col("__hub"))
      .select(col("__hub").as("a_id"), col("doc_id").as("b_id"))
    val candidates = allPairs.unionAll(starPairs).distinct()
    // The verify side re-attaches token arrays BY ID. On dup-heavy corpora
    // the candidate list is orders of magnitude larger than the rep table
    // (sf0.1: 1.7M pairs from 3.9k reps), so shuffling the pairs to meet
    // the reps is the wrong plan — broadcast the reps when they fit. The
    // gate is on estimated BYTES, not rows (an explicit broadcast() hint
    // bypasses autoBroadcastJoinThreshold, and a million 1KB token arrays
    // is a gigabyte the driver must materialize): one cheap agg over the
    // already-persisted reps prices the payload (8B per hashed token +
    // per-row overhead); the huge side falls back to the shuffle join AQE
    // would pick anyway.
    val repStats = reps.agg(count(lit(1)), sum(size(col("htoks")))).head()
    val repRows = repStats.getLong(0)
    val repBytes =
      (if (repStats.isNullAt(1)) 0L else repStats.getLong(1)) * 8L + repRows * 32L
    val toksByIdBase = reps.select(col("doc_id"), col("htoks"))
    val toksById =
      if (repBytes <= 256L * 1024 * 1024) broadcast(toksByIdBase) else toksByIdBase
    val inter = graft.functions.TextSignatureFunctions
      .sorted_intersect_count(col("a_toks"), col("b_toks"))
    // exception-safe: without try/finally, a failed verify join would
    // strand the persisted banded frame in the session cache — the exact
    // leak the unpersist-on-consume design exists to prevent
    val out =
      try candidates
        .join(toksById.toDF("a_id", "a_toks"), "a_id")
        .join(toksById.toDF("b_id", "b_toks"), "b_id")
        .withColumn("jac", inter.cast(DoubleType) /
          (size(col("a_toks")) + size(col("b_toks")) - inter))
        .filter(col("jac") >= threshold)
        .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jac"))
        // eager materialization BEFORE the sort: the returned frame reads
        // its own blocks (reclaimed when the frame is dropped), letting the
        // inputs unpersist NOW instead of leaking into the session cache —
        // and consumers that don't need order (count, clustering) skip the
        // sort entirely
        .localCheckpoint(true)
        .orderBy("a_id", "b_id")
      finally banded.unpersist()
    // reps is caller-owned (persisted/unpersisted by the wrapper): the
    // containment gate reuses it after the pairs are materialized
    out
  }

  /** Connected components over an undirected pair list — the step that
    * turns pairwise near-dup matches into the actual dedup decision
    * ("keep the smallest id of every cluster"). Returns (node, cluster =
    * min id of its component) for every node that appears in a pair.
    *
    * Size rule: the driver holds the edge set when it fits
    * `spark.sql.autoBroadcastJoinThreshold` — the session's existing
    * budget for driver-held relations (-1 never) — at
    * [[driverBytesPerEdge]] of driver heap per edge. One bounded action
    * (`limit(cap + 1)`) collects at most one edge past that budget; if
    * the edges fit, union-find runs on the driver. Larger graphs, ids
    * other than matching Int/Long columns, and NULL ids take
    * [[componentsLoop]], the distributed min-label propagation. Both
    * paths return the same rows and schema. The driver path persists
    * nothing; it also labels graphs whose diameter exceeds `maxIters`,
    * which only bounds the loop. */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          maxIters: Int = 20): DataFrame =
    driverComponents(pairs, a, b).getOrElse(componentsLoop(pairs, a, b, maxIters))

  /** Peak driver heap per edge on the driver path, worst case (every
    * edge brings two new nodes): the collected rows with their encoded
    * copies, then the id arrays and the output rows with their local
    * relation. Measured at 365 bytes (200k edges, JDK 17, compressed
    * pointers), 190 when nodes are few; rounded up. */
  private[graft] val driverBytesPerEdge = 512L

  /** Most edges the driver path takes under a `budget` of driver bytes;
    * -1 when the budget is negative (the path is off). */
  private[graft] def driverEdgeCap(budget: Long): Int =
    if (budget < 0) -1 else (budget / driverBytesPerEdge).min(Int.MaxValue - 1L).toInt

  /** [[connectedComponents]]' driver path: None when the edge set is over
    * the size rule or its ids are not one of the supported types. */
  private def driverComponents(pairs: DataFrame, a: String,
                               b: String): Option[DataFrame] = {
    val ids = pairs.select(col(a), col(b))
    val Array(fa, fb) = ids.schema.fields
    val t = fa.dataType
    val cap = driverEdgeCap(pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    if (cap < 0 || fb.dataType != t || (t != LongType && t != IntegerType)) return None
    edgeEnds(ids, cap).map { ends =>
      // node ids sorted and distinct: a node's index is its id's rank, so
      // a union-find whose roots are minimum indices labels every node
      // with its component's minimum id — the label the loop converges to
      val nodes = ends.clone()
      java.util.Arrays.sort(nodes)
      var m = 0
      for (k <- nodes.indices) if (m == 0 || nodes(k) != nodes(m - 1)) { nodes(m) = nodes(k); m += 1 }
      val parent = Array.range(0, m)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      def index(id: Long): Int = java.util.Arrays.binarySearch(nodes, 0, m, id)
      for (e <- ends.indices by 2) {
        val ra = find(index(ends(e)))
        val rb = find(index(ends(e + 1)))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
      val typed: Long => Any = if (t == IntegerType) _.toInt else identity
      val rows = Array.tabulate(m)(k => Row(typed(nodes(k)), typed(nodes(find(k)))))
      // the loop's columns are NULL-able exactly when either input id is
      val nullable = fa.nullable || fb.nullable
      pairs.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("node", t, nullable),
          StructField("cluster", t, nullable))))
    }
  }

  /** Both ids of every edge of `ids` as one flat (a0, b0, a1, b1, …)
    * array — None past `cap` edges or on a NULL id. The collected rows
    * are garbage once this returns. */
  private def edgeEnds(ids: DataFrame, cap: Int): Option[Array[Long]] = {
    val rows = ids.limit(cap + 1).collect()
    if (rows.length > cap || rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else Some(Array.tabulate(2 * rows.length)(k => rows(k / 2).getAs[Number](k % 2).longValue))
  }

  /** [[connectedComponents]]' distributed path, by iterative min-label
    * propagation. Each iteration is one shuffle (every node adopts the
    * smallest label among itself and its neighbors) and converges after
    * O(component diameter) iterations — near-dup clusters are dense, so
    * diameters are tiny. The loop touches only nodes that appear in a
    * pair; convergence is one count per iteration. Its shuffles run at
    * the session's `spark.sql.shuffle.partitions`, which it never writes.
    * Fails rather than return split components when `maxIters` is too
    * few. */
  private[graft] def componentsLoop(pairs: DataFrame, a: String, b: String,
                                    maxIters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col(a).as("node"), col(b).as("peer"))
      .unionAll(pairs.select(col(b).as("node"), col(a).as("peer")))
      .persist(MEMORY_AND_DISK)
    var labels = edges.groupBy(col("node"))
      .agg(least(min(col("peer")), col("node")).as("label"))
      .persist(MEMORY_AND_DISK)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // the label-update join already sees both the old and the new label,
      // so convergence rides the SAME action that materializes the persist:
      // carry the previous label in a `prev` column and count label<prev on
      // the cached frame — one join and one job per iteration, not two of
      // each. Every 5th iteration swaps the persist for an eager
      // localCheckpoint so a deep component can't accumulate an
      // iterations-deep lazy plan.
      val stepped = edges
        .join(labels.select(col("node").as("peer"), col("label").as("peer_label")), "peer")
        .groupBy(col("node")).agg(min(col("peer_label")).as("nbr_label"))
        .join(labels.select("node", "label"), "node")
        .select(col("node"), least(col("label"), col("nbr_label")).as("label"),
          col("label").as("prev"))
      val next =
        if ((i + 1) % 5 == 0) stepped.localCheckpoint(true)
        else stepped.persist(MEMORY_AND_DISK)
      val changed = next.filter(col("label") < col("prev")).count()
      // persisted old frames unpersist at the swap; checkpoint frames
      // (every 5th iteration) are NOT dropped mid-loop — `next` is only
      // cached, so a later cache-miss recompute still walks lineage back
      // to the old checkpoint, and freeing it would strand the loop on
      // any block loss. The ≤ maxIters/5 lingering label-table copies
      // are bounded and reclaimed after the final result materializes.
      labels.unpersist()
      labels = next
      converged = changed == 0
      i += 1
    }
    edges.unpersist()
    // eager localCheckpoint so the final labels can unpersist NOW — the
    // returned frame reads its own blocks (context-cleaner reclaimed when
    // dropped) and nothing lingers in the session cache
    val out =
      if (converged)
        Some(labels.select(col("node"), col("label").as("cluster")).localCheckpoint(true))
      else None
    // out's lineage is truncated by its own checkpoint, so the final
    // labels frame (a checkpoint itself on every-5th iterations — the
    // root-only shim drop handles that case; a plain persist otherwise —
    // unpersist handles that one) is safe to free now; on failure nothing
    // may stay cached either
    labels.unpersist()
    org.apache.spark.sql.GraftShim.dropCheckpointBlocks(labels)
    // silent wrong labels are worse than failing: a component whose
    // diameter exceeds the budget exits the loop split in pieces
    require(out.isDefined,
      s"connected components did not converge in $maxIters iterations " +
        "(a component's diameter exceeds the budget); raise maxIters")
    out.get
  }

  /** Near-dup clusters of the documents table: MinHash-LSH pairs →
    * connected components. (doc_id, cluster_id); docs in no pair are
    * their own cluster and are omitted. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupMinhashLsh(spark, dir), "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
      .orderBy("doc_id")

  /** Cluster assignment over the EXACT blocked n-gram-Jaccard pair list:
    * the same [[connectedComponents]] machinery [[dedupClusters]] runs on
    * LSH edges, but with an oracle-checkable edge set — so the component
    * logic itself (cluster = min id) is pinned to a DuckDB recursive-CTE
    * transitive closure instead of only unit specs. At fixture sizes the
    * edges take the driver path; `PropertyLawsSpec` holds the loop to
    * the same answers. */
  private def clustersExactQuery(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupNgramJaccard(spark, dir), "a_id", "b_id")
      .select(col("node").cast(LongType).as("doc_id"),
        col("cluster").cast(LongType).as("cluster_id"))
      .orderBy("doc_id")

  /** 64-bit SimHash: per-token xxhash64, bit-vote, sign → fingerprint.
    * Pure HOF fold over the token array — map-side, codegen-friendly. */
  def simhash(toks: Column): Column = {
    val bitVotes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)), (a, i) =>
          a + when(call_function("getbit", h, i) === 1, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(bitVotes, sequence(lit(0), lit(63)), (v, i) =>
        when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Distinct-fingerprint representatives for the SimHash family: one
    * (sh, min doc_id) row per distinct 64-bit fingerprint — the phase-0
    * collapse (same skew hardening as [[dedupMinhashLsh]]), shared by the
    * pair query and its recall gate so both agree on the id space. */
  private def simhashReps(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextSignatureFunctions.simhash(array_distinct(tokens)).as("sh"))
      .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into 4×16-bit
    * chunks (Hamming ≤ 3 ⇒ at least one identical chunk), join on chunks,
    * verify with exact Hamming distance via bit_count(xor). */
  def dedupSimhash(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashPairsOverReps(simhashReps(spark, dir), maxHamming)

  /** [[dedupSimhash]] core over an existing representative table — split
    * out so the recall gate shares one fingerprint computation with the
    * pair query. */
  private def simhashPairsOverReps(d: DataFrame, maxHamming: Int): DataFrame = {
    val chunked = d.select(col("doc_id"), col("sh"),
        posexplode(transform(sequence(lit(0), lit(3)), i =>
          call_function("shiftright", col("sh"), i * 16).bitwiseAND(0xFFFFL))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val a = chunked.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("chunk"), col("chunk_val"))
    val b = chunked.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh")).distinct()
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** Driver-visible recall invariant for the SimHash query: chunk banding
    * is DETERMINISTICALLY complete for Hamming ≤ 3 (4 chunks, ≤ 3 flipped
    * bits — pigeonhole leaves at least one chunk untouched), so unlike the
    * probabilistic MinHash gate this one demands EXACT containment: every
    * Hamming ≤ 3 pair among a deterministic hash-ordered sample of
    * distinct-fingerprint representatives must appear in the banded pair
    * list. The brute-force side is an O(cap²) scalar-long cross join —
    * bounded at any corpus size (at sf ≤ 0.1 the cap covers every
    * representative). */
  private[graft] def simhashGatedQuery(spark: SparkSession, dir: String,
                                       maxHamming: Int = 3,
                                       sampleCap: Int = 1500): DataFrame =
    simhashGatedPairs(simhashReps(spark, dir), maxHamming, sampleCap)

  /** [[simhashGatedQuery]] core over any (sh, doc_id) representative
    * table — shared by the XXH64 production path and the md5-construction
    * graded query so both run the identical banding + completeness gate. */
  private def simhashGatedPairs(repsIn: DataFrame, maxHamming: Int,
                                sampleCap: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one fingerprint computation (documents scan + groupBy) feeds both
    // the banded pair query and the gate's brute-force side
    val reps = repsIn.persist(MEMORY_AND_DISK)
    try {
      // eager checkpoint: consumed by the gate's anti-join AND returned —
      // without it the banded join would re-run after reps unpersists
      val pairs = simhashPairsOverReps(reps, maxHamming).localCheckpoint(true)
      val sample = reps
        .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
        .limit(sampleCap)
      val expected = sample.toDF("a_sh", "a_id")
        .crossJoin(sample.toDF("b_sh", "b_id"))
        .filter(col("a_id") < col("b_id") &&
          bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= maxHamming)
        .select(col("a_id"), col("b_id"))
      // exact containment as ONE anti-join action (r8 perf: the former
      // checkpoint + count + semi-count spent three jobs where the happy
      // path needs one; `expected` is consumed once so it needs no
      // checkpoint, and the law — every sample pair present in the
      // banded list — is unchanged). Counts are recomputed only on the
      // failure path, where the extra pass buys the error message.
      val missing = expected.join(pairs.select(col("a_id"), col("b_id")),
        Seq("a_id", "b_id"), "left_anti").count()
      if (missing > 0) {
        val nExpected = expected.count()
        throw new IllegalArgumentException(
          s"requirement failed: SimHash pair list is missing $missing of " +
            s"$nExpected Hamming<=$maxHamming sample pairs — chunk banding " +
            "lost pairs it provably must keep")
      }
      pairs
    } finally reps.unpersist()
  }

  // ---- oracle-hashable signature slices (md5-digit hashes) ------------
  //
  // The production MinHash/SimHash expressions hash with XXH64, which no
  // SQL oracle can reproduce — those queries are gated by per-run recall
  // invariants instead ([[minhashGatedQuery]], [[simhashGatedQuery]]).
  // These two companion queries run the SAME aggregation constructions —
  // the per-bit majority vote and the k-permutation double-hash min —
  // over a token hash DuckDB can also compute: md5 hex digits turned
  // into integers with pure arithmetic. The construction logic itself is
  // therefore hash-compared against an oracle every round; only the
  // 64-bit mixer differs from the production path. Shape at scale: one
  // distinct-token explode, one partial-combined groupBy per query —
  // the shuffle carries (doc, token) rows and the output is one row per
  // doc at any corpus size.

  /** Per-token md5 digit values d0..d31 (each 0..15) over the
    * distinct-token explode of `documents` — the shared front end of the
    * md5-hash oracle queries. The 128-bit digest is parsed with THREE
    * hex-string conversions (digits 0-14, 15-29, 30-31 as 60/60/8-bit
    * longs) and the individual digits recovered by nibble shifts —
    * measured ~2× faster than the former 32 per-digit
    * `conv(substring(h,i,1))` string ops on the fingerprint hot path,
    * with bit-identical digit values (the oracle mirrors the same
    * 3-long split). Digit i sits (14−i)·4 bits up in its long. */
  private def md5DigitTokens(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens)).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
    val longs = base.select(col("doc_id"),
      conv(substring(col("h"), 1, 15), 16, 10).cast(LongType).as("l0"),
      conv(substring(col("h"), 16, 15), 16, 10).cast(LongType).as("l1"),
      conv(substring(col("h"), 31, 2), 16, 10).cast(LongType).as("l2"))
    longs.select(col("doc_id") +: (0 until 32).map { i =>
      val (src, sh) =
        if (i < 15) ("l0", (14 - i) * 4)
        else if (i < 30) ("l1", (29 - i) * 4)
        else ("l2", (31 - i) * 4)
      shiftright(col(src), sh).bitwiseAND(lit(15L)).cast(IntegerType).as(s"d$i")
    }: _*)
  }

  private def md5DigitSql: String = {
    val digits = (0 until 32).map { i =>
      val (src, sh) =
        if (i < 15) ("l0", (14 - i) * 4)
        else if (i < 30) ("l1", (29 - i) * 4)
        else ("l2", (31 - i) * 4)
      s"CAST(($src >> $sh) & 15 AS BIGINT) AS d$i"
    }.mkString(",\n       ")
    s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |           FROM documents),
       |hh AS (SELECT doc_id, md5(tok) AS h FROM t),
       |hl AS (SELECT doc_id,
       |         CAST('0x' || substring(h, 1, 15) AS BIGINT) AS l0,
       |         CAST('0x' || substring(h, 16, 15) AS BIGINT) AS l1,
       |         CAST('0x' || substring(h, 31, 2) AS BIGINT) AS l2
       |       FROM hh),
       |d AS (SELECT doc_id,
       |       $digits
       |      FROM hl)""".stripMargin
  }

  /** SimHash bit-vote construction over md5 digit hashes: bit b of the
    * 64-bit fingerprint is the sign of Σ_tokens (±1) voted by bit (b%4)
    * of hex digit (b/4). Ties (vote sum 0) resolve to 0 on both sides.
    * The b=63 term is Long.MinValue so the two's-complement sum never
    * overflows (partial sums stay ≤ 2⁶³−1 when the sign term adds last). */
  private def simhashMd5Query(spark: SparkSession, dir: String): DataFrame = {
    val d = md5DigitTokens(spark, dir)
    val votes = (0 until 64).map { b =>
      val bit = shiftright(col(s"d${b / 4}"), b % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val agg = d.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sh = (0 until 64).map { b =>
      val term = if (b == 63) Long.MinValue else 1L << b
      when(col(s"v$b") > 0, lit(term)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sh.as("sh")).orderBy("doc_id")
  }

  private def simhashMd5Oracle: String = {
    val votes = (0 until 64).map { b =>
      s"SUM(CASE WHEN ((d${b / 4} >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n        ")
    val terms = (0 until 64).map { b =>
      val t = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"CASE WHEN v$b > 0 THEN CAST($t AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""$md5DigitSql,
       |v AS (SELECT doc_id,
       |        $votes
       |      FROM d GROUP BY doc_id)
       |SELECT doc_id, CAST($terms AS BIGINT) AS sh FROM v ORDER BY doc_id""".stripMargin
  }

  /** The GRADED SimHash near-dup query: the identical banding machinery
    * and pigeonhole completeness gate as the XXH64 production path
    * ([[simhashGatedQuery]], spec-covered), but fingerprints come from
    * the md5-digit bit-vote construction ([[simhashMd5Query]], itself
    * oracle-proven) — so the ENTIRE pair pipeline (fingerprint → distinct
    * reps → 4×16-bit chunk join → exact-Hamming verify) hash-verifies
    * against DuckDB every round. Between this and `simhash_md5`, only the
    * 64-bit mixer choice (XXH64 vs md5) remains outside oracle coverage,
    * and the completeness gate still runs here on every execution. */
  private def simhashMd5GatedQuery(spark: SparkSession, dir: String,
                                   maxHamming: Int = 3,
                                   sampleCap: Int = 1500): DataFrame = {
    val reps = simhashMd5Query(spark, dir)
      .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
    simhashGatedPairs(reps, maxHamming, sampleCap)
  }

  /** DuckDB mirror of [[simhashMd5GatedQuery]]: md5-digit bit-vote
    * fingerprints (the proven `simhash_md5` construction), distinct-
    * fingerprint reps, 16-bit chunk banding (arithmetic `>>` masked to
    * 16 bits agrees with Spark's shiftright for negative fingerprints),
    * exact Hamming via `bit_count(xor(..))`. */
  private def simhashMd5PairsOracle(maxHamming: Int = 3): String = {
    val votes = (0 until 64).map { b =>
      s"SUM(CASE WHEN ((d${b / 4} >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n        ")
    val terms = (0 until 64).map { b =>
      val t = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"CASE WHEN v$b > 0 THEN CAST($t AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""$md5DigitSql,
       |v AS (SELECT doc_id,
       |        $votes
       |      FROM d GROUP BY doc_id),
       |f AS (SELECT doc_id, CAST($terms AS BIGINT) AS sh FROM v),
       |r AS (SELECT sh, MIN(doc_id) AS doc_id FROM f GROUP BY sh),
       |c AS (SELECT doc_id, sh, u.i AS chunk, (sh >> (u.i * 16)) & 65535 AS chunk_val
       |      FROM r, UNNEST([0, 1, 2, 3]) u(i)),
       |p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS a_sh, b.sh AS b_sh
       |      FROM c a JOIN c b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
       |        AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS INT) AS hamming
       |FROM p WHERE bit_count(xor(a_sh, b_sh)) <= $maxHamming
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** MinHash double-hash construction over md5 digit hashes: h1/h2 are
    * 60-bit integers assembled from hex digits 0-14 / 16-30 (h2 forced
    * odd), permutation i's hash is (h1 + i·h2) mod 1e9+7 — all values
    * positive and < 2⁶³, so Spark long and DuckDB BIGINT arithmetic agree
    * exactly. Per-doc signature = 8 MIN aggregates, partial-combined. */
  private def minhashMd5Query(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val d = md5DigitTokens(spark, dir)
    def assemble(off: Int): Column =
      (0 until 15).map(i =>
        col(s"d${i + off}").cast(LongType) * lit(1L << (4 * (14 - i)))).reduce(_ + _)
    val g = d.select(col("doc_id"), assemble(0).as("h1"),
      assemble(16).bitwiseOR(lit(1L)).as("h2"))
    val mins = (0 until k).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % lit(1000000007L)).as(s"m$i"))
    g.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*).orderBy("doc_id")
  }

  private def minhashMd5Oracle: String = {
    def assemble(off: Int): String =
      (0 until 15).map(i => s"d${i + off} * ${1L << (4 * (14 - i))}").mkString(" + ")
    val mins = (0 until 8).map(i =>
      s"MIN((h1 + $i * h2) % 1000000007) AS m$i").mkString(",\n       ")
    s"""$md5DigitSql,
       |g AS (SELECT doc_id, (${assemble(0)}) AS h1, ((${assemble(16)}) | 1) AS h2 FROM d)
       |SELECT doc_id,
       |       $mins
       |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The GRADED MinHash-LSH near-dup query: the production pipeline's
    * exact shape — phase-0 identical-set collapse, k=64 signature banded
    * b=8×r=8 (the same s-curve), oversized-bucket star reduction, exact-
    * Jaccard verify at 0.8 — but built from DuckDB-reproducible
    * primitives: md5 set digests, the md5-digit double-hash minima of
    * [[minhashMd5Query]] (mod-reduced so i·h2 stays in 63 bits at k=64),
    * md5 band keys, and `array_intersect` set verification. The ENTIRE
    * pair pipeline hash-verifies against DuckDB every round, and the
    * production containment gate ALSO runs here (over xxhash64 token
    * sets, the same machinery as [[minhashGatedQuery]]); only the XXH64
    * mixer itself stays outside oracle coverage, covered by that gate and
    * the specs. */
  /** Banded md5-construction MinHash signature of a (doc_id, toks) frame
    * → (doc_id, band, bh) rows. h1/h2 are the first/second 15 hex digits
    * of md5(token) as 60-bit ints (one conv each), reduced mod p so the
    * k-permutation arithmetic (h1m + i·h2m) never leaves 63-bit range on
    * either engine; band keys are md5 of the comma-joined minima slice —
    * all bands from ONE pass over the signature rows (posexplode), not a
    * bands-way union that re-aggregates per branch. ONE implementation
    * shared by the graded self-join pairs query and the table-backed
    * incremental index ([[dedupIndexProbe]]) — an index built under a
    * drifted construction would silently stop colliding with probes. */
  private[graft] def md5BandedSignature(d: DataFrame, k: Int, bands: Int): DataFrame = {
    val p = 1000000007L
    val tok = d.select(col("doc_id"), explode(col("toks")).as("t"))
      .withColumn("h", md5(col("t")))
    val hashed = tok.select(col("doc_id"),
      (conv(substring(col("h"), 1, 15), 16, 10).cast(LongType) % p).as("h1m"),
      (conv(substring(col("h"), 17, 15), 16, 10).cast(LongType)
        .bitwiseOR(lit(1L)) % p).as("h2m"))
    bandedFromPermHashes(hashed, k, bands)
  }

  /** [[md5BandedSignature]] from PRECOMPUTED per-token 60-bit hash pairs
    * (`pairs: array<struct<h1,h2>>`, see [[md5DocHashPairs]]) — the
    * construction is bit-identical (h1m = h1 % p, h2m = (h2|1) % p, in
    * that order, exactly as the string path computes them) but skips the
    * per-token md5, which [[md5DocHashPairs]] already paid once. */
  private[graft] def md5BandedSignatureFromPairs(d: DataFrame, k: Int,
                                                 bands: Int): DataFrame = {
    val p = 1000000007L
    val hashed = d.select(col("doc_id"), explode(col("pairs")).as("pr"))
      .select(col("doc_id"),
        (col("pr.h1") % p).as("h1m"),
        (col("pr.h2").bitwiseOR(lit(1L)) % p).as("h2m"))
    bandedFromPermHashes(hashed, k, bands)
  }

  /** Shared tail of the banded-signature construction: k permutation
    * minima over (h1m, h2m) rows, banded via md5 of the comma-joined
    * minima slices — one implementation so the string-token and
    * precomputed-pairs entry points cannot drift. */
  private def bandedFromPermHashes(hashed: DataFrame, k: Int,
                                   bands: Int): DataFrame = {
    val p = 1000000007L
    val r = k / bands
    val mins = (0 until k).map(i =>
      min((col("h1m") + lit(i.toLong) * col("h2m")) % p).as(s"m$i"))
    val sig = hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws(",",
        (b * r until (b + 1) * r).map(i => col(s"m$i").cast(StringType)): _*))
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  private def minhashMd5PairsQuery(spark: SparkSession, dir: String,
                                   k: Int = 64, bands: Int = 8,
                                   threshold: Double = 0.8,
                                   maxBucket: Int = 2000,
                                   sampleCap: Int = 700): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val r = k / bands
    val p = 1000000007L
    val reps = documents(spark, dir)
      .select(col("doc_id"), array_sort(array_distinct(tokens)).as("toks"))
      .withColumn("set_key", md5(concat_ws("\u0001", col("toks"))))
      .groupBy(col("set_key"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("toks")).as("toks"))
      // verify/gate set elements: 60-bit md5 token hashes as fixed-width
      // longs (same layout rationale as setReps' htoks -- the two-pointer
      // sorted intersect beats string-array set ops ~2x), reproduced in
      // DuckDB as CAST('0x'||substring(md5(t),1,15) AS BIGINT)
      .withColumn("htoks", array_sort(array_distinct(transform(col("toks"),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast(LongType)))))
      .persist(MEMORY_AND_DISK)
    try {
      // per-token h1/h2: the first/second 15 hex digits of md5(token) as
      // 60-bit ints (one conv each — the digit-by-digit assembly of
      // minhash_md5 costs 30 expression nodes per token and measured 4×
      // slower end-to-end), reduced mod p so the k=64 permutation
      // arithmetic (h1m + i·h2m) never leaves 63-bit range on either
      // engine (DuckDB RAISES on BIGINT overflow rather than wrapping)
      val banded = md5BandedSignature(reps, k, bands).persist(MEMORY_AND_DISK)
      // same oversized-bucket star reduction as the production path
      val out = try {
        val sized = banded.join(
          banded.groupBy(col("band"), col("bh"))
            .agg(count(lit(1)).as("__n"), min(col("doc_id")).as("__hub")),
          Seq("band", "bh"))
        val small = sized.filter(col("__n") <= maxBucket)
        val allPairs = small.select(col("doc_id").as("a_id"), col("band"), col("bh"))
          .join(small.select(col("doc_id").as("b_id"), col("band"), col("bh")),
            Seq("band", "bh"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"))
        val starPairs = sized.filter(col("__n") > maxBucket && col("doc_id") =!= col("__hub"))
          .select(col("__hub").as("a_id"), col("doc_id").as("b_id"))
        val candidates = allPairs.unionAll(starPairs).distinct()
        // candidates outnumber reps by orders of magnitude on dup-heavy
        // corpora — broadcast the rep payload when it fits (same
        // byte-gated hint as minhashPairsOverReps; an unhinted plan
        // shuffles the 1.7M-pair candidate list twice)
        val repStats = reps.agg(count(lit(1)), sum(size(col("htoks")))).head()
        val repBytes = (if (repStats.isNullAt(1)) 0L else repStats.getLong(1)) * 8L +
          repStats.getLong(0) * 32L
        val toksByIdBase = reps.select(col("doc_id"), col("htoks"))
        val toksById =
          if (repBytes <= 256L * 1024 * 1024) broadcast(toksByIdBase) else toksByIdBase
        val inter = graft.functions.TextSignatureFunctions
          .sorted_intersect_count(col("a_toks"), col("b_toks"))
        candidates
          .join(toksById.toDF("a_id", "a_toks"), "a_id")
          .join(toksById.toDF("b_id", "b_toks"), "b_id")
          .withColumn("jac", inter.cast(DoubleType) /
            (size(col("a_toks")) + size(col("b_toks")) - inter))
          .filter(col("jac") >= threshold)
          .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jac"))
          .localCheckpoint(true)
      } finally banded.unpersist()
      // the production containment gate (exact-Jaccard >= 0.9 sample
      // pairs must be banded, modulo the documented miss tolerance) runs
      // over the same md5-derived token-hash sets — driver-visible on
      // every execution
      val gateReps = reps.select(col("set_key"), col("doc_id"), col("htoks"))
      minhashContainmentGate(out, gateReps, sampleCap)
      out.orderBy("a_id", "b_id")
    } finally reps.unpersist()
  }

  /** DuckDB mirror of [[minhashMd5PairsQuery]] — set collapse, md5-digit
    * double-hash minima, band-key md5s, bucket star reduction, and
    * list_intersect Jaccard, all replayed literally. */
  private def minhashMd5PairsOracle(k: Int = 64, bands: Int = 8,
                                    threshold: Double = 0.8,
                                    maxBucket: Int = 2000): String = {
    val r = k / bands
    val mins = (0 until k).map(i =>
      s"MIN((h1m + $i * h2m) % 1000000007) AS m$i").mkString(",\n        ")
    val bandSelects = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($slice) AS bh FROM sig"
    }.mkString("\n       UNION ALL ")
    s"""WITH d0 AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
       |            FROM documents),
       |reps AS (SELECT MIN(doc_id) AS doc_id, ANY_VALUE(toks) AS toks
       |         FROM d0 GROUP BY md5(array_to_string(toks, chr(1)))),
       |rh AS (SELECT doc_id, list_sort(list_distinct(list_transform(toks,
       |         t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)))) AS htoks
       |       FROM reps),
       |tok AS (SELECT doc_id, md5(t) AS h FROM (SELECT doc_id, unnest(toks) AS t FROM reps)),
       |g AS (SELECT doc_id,
       |        CAST('0x' || substring(h, 1, 15) AS BIGINT) % 1000000007 AS h1m,
       |        (CAST('0x' || substring(h, 17, 15) AS BIGINT) | 1) % 1000000007 AS h2m
       |      FROM tok),
       |sig AS (SELECT doc_id,
       |        $mins
       |      FROM g GROUP BY doc_id),
       |banded AS ($bandSelects),
       |sized AS (SELECT doc_id, band, bh,
       |            COUNT(*) OVER (PARTITION BY band, bh) AS n,
       |            MIN(doc_id) OVER (PARTITION BY band, bh) AS hub
       |          FROM banded),
       |allp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM sized a JOIN sized b ON a.band = b.band AND a.bh = b.bh
       |           AND a.doc_id < b.doc_id
       |         WHERE a.n <= $maxBucket AND b.n <= $maxBucket),
       |star AS (SELECT hub AS a_id, doc_id AS b_id FROM sized
       |         WHERE n > $maxBucket AND doc_id <> hub),
       |cand AS (SELECT DISTINCT a_id, b_id FROM
       |         (SELECT * FROM allp UNION ALL SELECT * FROM star)),
       |v AS (SELECT c.a_id, c.b_id,
       |        len(list_intersect(ra.htoks, rb.htoks)) AS inter,
       |        len(ra.htoks) AS an, len(rb.htoks) AS bn
       |      FROM cand c JOIN rh ra ON ra.doc_id = c.a_id
       |                  JOIN rh rb ON rb.doc_id = c.b_id)
       |SELECT a_id, b_id,
       |       ROUND(CAST(inter AS DOUBLE) / (an + bn - inter), 4) AS jac
       |FROM v WHERE CAST(inter AS DOUBLE) / (an + bn - inter) >= $threshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Gopher/C4-style heuristic quality rules — the published document
    * filters a pretraining pipeline runs before anything model-based:
    * token-count window, mean token length window, symbol-to-word ratio,
    * alphabetic-word fraction, numeric-token fraction, minimum stopword
    * count; `keep` is their conjunction. Everything is per-row
    * higher-order-function arithmetic (one pass over the token array, no
    * shuffle at all — at 100 TB this is a pure map stage), and every
    * feature is integer-or-per-row-double so the DuckDB oracle matches
    * bit-exactly. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens)
    val meanTokLen = DocFeatures.meanTokLen(tokens)
    // gopher's symbol ratio counts ellipses as well as hashes — a
    // DELIBERATE difference from qualityClassifier's hash-only ratio
    // (the classifier's published weights were fit to its own feature)
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val nEllipsis = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nEllipsis).cast(DoubleType) / nTok
    val alphaFrac = DocFeatures.alphaFrac(tokens)
    val numericFrac = DocFeatures.numericFrac(tokens)
    val stopCount = DocFeatures.stopCount(tokens)
    documents(spark, dir)
      .select(col("doc_id"), nTok.as("n_tok"),
        round(meanTokLen, 4).as("mean_tok_len"),
        round(symbolRatio, 4).as("symbol_ratio"),
        round(alphaFrac, 4).as("alpha_frac"),
        round(numericFrac, 4).as("numeric_frac"),
        stopCount.as("stop_count"),
        (nTok >= 50 && nTok <= 100000 &&
          meanTokLen >= 3.0 && meanTokLen <= 10.0 &&
          symbolRatio < 0.1 && alphaFrac > 0.8 && stopCount >= 2).as("keep"))
      .orderBy("doc_id")
  }

  private def gopherRulesOracle: String = {
    val stops = DocFeatures.stops.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
       |f AS (SELECT doc_id,
       |  CAST(len(w) AS INT) AS n_tok,
       |  CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) / len(w) AS mean_tok_len,
       |  CAST((len(text) - len(replace(text, '#', ''))) +
       |       (len(text) - len(replace(text, '...', ''))) // 3 AS DOUBLE) / len(w) AS symbol_ratio,
       |  CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_frac,
       |  CAST(len(list_filter(w, t -> regexp_matches(t, '^[0-9]+$$'))) AS DOUBLE) / len(w) AS numeric_frac,
       |  CAST(len(list_filter(w, t -> t IN ($stops))) AS INT) AS stop_count
       |FROM d)
       |SELECT doc_id, n_tok, ROUND(mean_tok_len, 4) AS mean_tok_len,
       |  ROUND(symbol_ratio, 4) AS symbol_ratio, ROUND(alpha_frac, 4) AS alpha_frac,
       |  ROUND(numeric_frac, 4) AS numeric_frac, stop_count,
       |  (n_tok >= 50 AND n_tok <= 100000 AND mean_tok_len >= 3.0 AND
       |   mean_tok_len <= 10.0 AND symbol_ratio < 0.1 AND alpha_frac > 0.8 AND
       |   stop_count >= 2) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Heavy hitters via the Misra–Gries sketch
    * ([[graft.functions.MisraGriesSketch]], a native mergeable
    * TypedImperativeAggregate): find every item with frequency > N/k in
    * ONE pass of O(k) state per partition — no full group-by of the item
    * space. Items here are corpus characters (the fixture domain with
    * real skew); the production shape is identical for join keys
    * (feeding [[graft.ops.ScaleJoins]] salting) or n-grams.
    *
    * Determinism: the sketch's candidate set varies with merge order, but
    * MG guarantees candidates ⊇ true heavy items — so the exact recount
    * of candidates filtered by `count·k > N` (integer arithmetic, no
    * division) equals exactly the true heavy set on every run, and the
    * oracle comparison doubles as a per-run proof of the guarantee: a
    * broken sketch that drops a heavy item hash-mismatches immediately. */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    graft.functions.HeavyHitterFunctions.register(spark)
    val items = documents(spark, dir)
      .select(explode(split(col("text"), "")).as("item"))
    val sketch = items.agg(
      graft.functions.HeavyHitterFunctions.misra_gries(col("item"), k).as("cands"),
      count(lit(1)).as("n_total"))
    val cands = sketch.select(explode(col("cands")).as("item"), col("n_total"))
    items.join(cands, "item")
      .groupBy(col("item"), col("n_total"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * k > col("n_total"))
      .select(col("item"), col("n"))
      .orderBy(col("n").desc, col("item"))
  }

  private def heavyHittersOracle(k: Int = 15): String =
    s"""WITH c AS (SELECT unnest(string_split(text, '')) AS item FROM documents),
       |t AS (SELECT count(*) AS n_total FROM c)
       |SELECT item, CAST(count(*) AS BIGINT) AS n
       |FROM c GROUP BY item
       |HAVING count(*) * $k > (SELECT n_total FROM t)
       |ORDER BY n DESC, item""".stripMargin

  /** Winnowing-style document fingerprints: w-token shingles → md5 →
    * per-doc min-k sketch (k lexicographically-smallest digests, a
    * bottom-k sketch). md5 rather than an engine-native hash on purpose:
    * fingerprints are an EXCHANGE format (dedup across pipelines and
    * engines), so the digest must be bit-identical everywhere — which
    * also makes the whole query oracle-checkable in DuckDB. */
  def docFingerprint(spark: SparkSession, dir: String, w: Int = 3, k: Int = 8): DataFrame = {
    val shingles = transform(
      sequence(lit(0), size(tokens) - w),
      i => concat_ws(" ", slice(tokens, i + lit(1), lit(w))))
    documents(spark, dir)
      .filter(size(tokens) >= w)
      .select(col("doc_id"),
        slice(array_sort(array_distinct(transform(shingles, s => md5(s)))), 1, k)
          .as("fingerprint"))
      .orderBy("doc_id")
  }

  private def fingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    docFingerprint(spark, dir)
      .select(col("doc_id"), concat_ws(",", col("fingerprint")).as("fp"))
      .orderBy("doc_id")

  /** POSITIONAL winnowing fingerprints (Schleimer, Wilkerson & Aiken
    * 2003, the MOSS algorithm) — the guarantee [[docFingerprint]]'s
    * bottom-k sketch lacks: in every window of `k` consecutive w-gram
    * hashes select the minimum (rightmost on ties), which provably
    * fingerprints EVERY shared substring of ≥ w + k − 1 tokens while
    * storing only ~2/(k+1) of the grams. Selection is encoded as one
    * lexicographic window-min over `hash15 ∥ zeropad(999999 − pos)`
    * strings: the suffix makes the min both tie-break rightmost and
    * carry WHICH position was selected through the aggregation — no
    * separate argmin pass, and plain string `min` is bit-identical on
    * any engine.
    *
    * Scale shape: grams are a map-side posexplode; the window min is a
    * doc-keyed running window (one shuffle on doc_id, bounded
    * partitions); dedup of selections is per-doc distinct. Returns one
    * row per selected fingerprint: (doc_id, fp_pos, fp_hash, n_win). */
  def winnowFingerprints(spark: SparkSession, dir: String,
                         w: Int = 3, k: Int = 4): DataFrame = {
    val grams = documents(spark, dir)
      .filter(size(tokens) >= w + k - 1) // at least one full window
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(tokens) - w),
        i => substring(md5(concat_ws(" ", slice(tokens, i + 1, lit(w)))), 1, 15))))
      .toDF("doc_id", "pos", "h")
    val sel = concat(col("h"),
      lpad((lit(999999) - col("pos")).cast(StringType), 6, "0"))
    val W = org.apache.spark.sql.expressions.Window
    val wWin = W.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(W.currentRow, k - 1)
    val wDoc = W.partitionBy(col("doc_id"))
    grams
      .withColumn("sel", min(sel).over(wWin))
      .withColumn("ng", count(lit(1)).over(wDoc))
      .filter(col("pos") <= col("ng") - k) // full windows only
      .select(col("doc_id"), col("sel"), (col("ng") - (k - 1)).as("n_win"))
      .distinct()
      .select(col("doc_id"),
        (lit(999999) - substring(col("sel"), 16, 6).cast(IntegerType)).as("fp_pos"),
        substring(col("sel"), 1, 15).as("fp_hash"), col("n_win"))
  }

  /** Graded winnowing query: per-doc fingerprint-set summary — count,
    * window count, and a portable md5 digest over the sorted
    * `pos:hash` strings (the curation_audit digest pattern), so the
    * oracle hash pins every selected (position, hash) pair without
    * emitting ~n/2 rows per document. */
  private def winnowQuery(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprints(spark, dir)
      .select(col("doc_id"), col("n_win"),
        concat(lpad(col("fp_pos").cast(StringType), 6, "0"), lit(":"),
          col("fp_hash")).as("fp"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_win")).cast(LongType).as("n_win"),
        count(lit(1)).as("n_fp"),
        md5(concat_ws(",", array_sort(collect_list(col("fp"))))).as("fp_digest"))
      .orderBy("doc_id")

  private def winnowOracle(w: Int = 3, k: Int = 4): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id, i - 1 AS pos, len(tk) - ${w - 1} AS ng,
       |        substring(md5(array_to_string(tk[i:i+${w - 1}], ' ')), 1, 15) AS h
       |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${w - 1})) AS i
       |            FROM d WHERE len(tk) >= ${w + k - 1})),
       |s AS (SELECT doc_id, pos, ng,
       |        min(h || lpad(CAST(999999 - pos AS VARCHAR), 6, '0'))
       |          OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN CURRENT ROW AND ${k - 1} FOLLOWING) AS sel
       |      FROM g),
       |f AS (SELECT DISTINCT doc_id, ng, sel FROM s WHERE pos <= ng - $k),
       |p AS (SELECT doc_id, ng,
       |        lpad(CAST(999999 - CAST(substring(sel, 16, 6) AS INT) AS VARCHAR), 6, '0')
       |          || ':' || substring(sel, 1, 15) AS fp
       |      FROM f)
       |SELECT doc_id, CAST(max(ng) - ${k - 1} AS BIGINT) AS n_win,
       |  CAST(count(*) AS BIGINT) AS n_fp,
       |  md5(array_to_string(list_sort(list(fp)), ',')) AS fp_digest
       |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic stratified subsample: per language, the k documents
    * with the smallest md5(doc_id) — the standard training-mix op
    * ("cap every language at N docs, reproducibly"). The hash order
    * makes the sample stable across runs, clusters, and engines (md5 is
    * bit-identical everywhere, unlike engine-native hash functions);
    * the per-stratum top-k is a window over a single shuffle by lang —
    * at 100 TB this is one pass, no driver-side sampling state. */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    documents(spark, dir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id")
  }

  /** The full corpus-cleaning pipeline a training-data run composes, as
    * one dataflow: exact dedup (keep min doc per identical text) →
    * near-dup collapse (keep each LSH cluster's minimum) → quality gate
    * (token count + type-token ratio) → deterministic per-language cap.
    * Every stage is the already-tested operator; the value here is the
    * COMPOSITION: one pass over documents + the pair-list machinery, no
    * driver-side loops, each arrow a shuffle Spark can plan. Returns the
    * surviving (doc_id, lang). */
  def corpusClean(spark: SparkSession, dir: String,
                  minTok: Int = 5, minTtr: Double = 0.2,
                  perLangCap: Int = 200): DataFrame = {
    val docs = documents(spark, dir)
    // exact: one representative per identical TOKEN SET (the same
    // set-digest collapse dedupMinhashLsh's phase 0 performs — "a b" vs
    // "b a" are Jaccard-1.0 duplicates the pair list never emits, so
    // text-level dedup here would let them slip through the composition)
    val exact = docs
      .withColumn("__set_key",
        xxhash64(concat_ws("\u0001", array_sort(array_distinct(tokens)))))
      .groupBy(col("__set_key"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // near-dup: drop every clustered doc that is not its cluster minimum
    val losers = connectedComponents(dedupMinhashLsh(spark, dir), "a_id", "b_id")
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"))
    val surviving = exact.join(losers, Seq("doc_id"), "left_anti")
      .join(docs, "doc_id")
    // quality gate
    val quality = surviving
      .withColumn("n_tok", size(tokens))
      .withColumn("ttr", size(array_distinct(tokens)).cast(DoubleType) / col("n_tok"))
      .filter(col("n_tok") >= minTok && col("ttr") >= minTtr)
    // deterministic per-language cap (same md5 order as stratifiedSample)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    quality.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perLangCap)
      .select(col("doc_id"), col("lang"))
      .orderBy("lang", "doc_id")
  }

  // Gopher-style repetition signals: the fraction of n-gram occurrences
  // that are repeats within the doc (1 - distinct/total). Boilerplate and
  // degenerate generations score high and get gated — a standard
  // training-corpus quality filter. Pure map-side codegen'd HOFs (no
  // explode, no shuffle): at 100 TB this runs at scan speed.
  /** Word n-grams of the space-split text (empty array for docs shorter
    * than n) — shared by the repetition and decontamination ops. */
  private def ngrams(n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))

  private def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        round(lit(1.0) - size(array_distinct(g)).cast(DoubleType) / size(g), 4))
        .otherwise(lit(0.0))
    documents(spark, dir)
      .withColumn("g2", ngrams(2)).withColumn("g3", ngrams(3))
      .select(col("doc_id"), size(tokens).cast(IntegerType).as("n_tok"),
        dupFrac(col("g2")).as("dup2_frac"), dupFrac(col("g3")).as("dup3_frac"))
      .withColumn("keep", col("dup3_frac") < 0.5)
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * 8-gram with the held-out set (here: `source = 'src0'` plays the
    * benchmark) — the standard n-gram-overlap contamination check run
    * before training. Scale shape: the BENCHMARK's distinct grams are the
    * small side and broadcast; the corpus streams through one explode +
    * broadcast semi-join + per-doc count, so the big side never
    * shuffles on gram strings. */
  private def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val n = 8
    val docs = documents(spark, dir)
    val grams = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(ngrams(n))).as("g"))
    val benchGrams = grams.filter(col("source") === "src0").select("g").distinct()
    val shared = grams.filter(col("source") =!= "src0")
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.filter(col("source") =!= "src0").select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
      .orderBy("doc_id")
  }

  /** Driver-visible containment invariant for the LSH near-dup query:
    * the banded-LSH pair list must contain (nearly) every exact-Jaccard
    * ≥ 0.9 pair — at b=8/r=8 the s-curve passes 0.9-similar pairs with
    * ~99% probability each, so near-total containment is the property
    * that distinguishes working LSH from broken LSH, re-checked on every
    * run rather than only in unit specs. The exact side is computed over
    * a DETERMINISTIC hash-ordered sample of set-representatives capped at
    * `sampleCap`, so the gate's all-pairs verify stays O(cap²) at any
    * corpus size (at sf ≤ 0.01 the cap covers every document). */
  private[graft] def minhashGatedQuery(spark: SparkSession, dir: String,
                                sampleCap: Int = 700): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    // ONE persisted reps table feeds both the LSH pair computation (four
    // branches) and the gate's exact side — the documents scan and the
    // set-digest shuffle run once for the whole gated query instead of
    // twice (the pairs frame is eagerly checkpointed inside the core, so
    // the unpersist below frees the cache before the gate's result is
    // returned)
    val repsAll = setReps(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = minhashPairsOverReps(spark, repsAll,
        k = 64, bands = 8, threshold = 0.8, maxBucket = 2000)
      minhashContainmentGate(pairs, repsAll, sampleCap)
      pairs
    } finally repsAll.unpersist()
  }

  /** The containment check proper — throws if the LSH pair list misses
    * too many exact-Jaccard ≥ 0.9 pairs from a deterministic sample of
    * the given representatives. */
  private def minhashContainmentGate(pairs: DataFrame, repsAll: DataFrame,
                                     sampleCap: Int): Unit = {
    val reps = repsAll
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      .limit(sampleCap)
    val inter = graft.functions.TextSignatureFunctions
      .sorted_intersect_count(col("a_toks"), col("b_toks"))
    // size prefilter BEFORE the O(|toks|) sorted-merge: Jaccard ≥ 0.9
    // forces |a| and |b| within 10% of each other, and the two integer
    // comparisons discard almost every random pair for free
    val strong = reps.toDF("a_key", "a_id", "a_toks")
      .withColumn("a_n", size(col("a_toks")))
      .crossJoin(reps.toDF("b_key", "b_id", "b_toks")
        .withColumn("b_n", size(col("b_toks"))))
      .filter(col("a_id") < col("b_id") &&
        col("a_n") * 10 >= col("b_n") * 9 && col("b_n") * 10 >= col("a_n") * 9)
      .withColumn("jac", inter.cast(DoubleType) /
        (col("a_n") + col("b_n") - inter))
      .filter(col("jac") >= 0.9)
      .select(col("a_id"), col("b_id"))
      // eager checkpoint: the strong-pair list is consumed twice (count +
      // containment semi-join); without it the O(cap²) cross join runs
      // twice back-to-back
      .localCheckpoint(true)
    val nStrong = strong.count()
    val found = strong.join(pairs.select(col("a_id"), col("b_id")),
      Seq("a_id", "b_id"), "left_semi").count()
    // tolerance: at b=8/r=8 each 0.9-similar pair is individually banded
    // with ~99% probability, so a handful of misses at small nStrong is
    // expected behavior, not breakage — allow max(2, 10%) misses. (On a
    // corpus with >maxBucket boilerplate families the star reduction
    // intentionally drops member-member pairs; the family still holds
    // together through its hub, but direct-pair containment would dip —
    // raise maxBucket or check cluster membership if gating such data.)
    require(nStrong - found <= math.max(2L, nStrong / 10),
      s"LSH pair list contains only $found of $nStrong exact-Jaccard>=0.9 " +
        "pairs — banding or verification is broken")
  }

  /** Table-BACKED incremental near-dup index — the production shape of
    * ingestion dedup at 100 TB: the LSH index is not a per-job dataframe
    * but a GOVERNED TABLE (band-partitioned banded signatures + a reps
    * sidecar table), built once, maintained by plain appends as the
    * corpus grows, and probed by each incoming batch with an equi-join.
    * This query runs the whole lifecycle: build the two index tables
    * from half the corpus, APPEND the other half (the incremental
    * maintenance step), reload both FROM DISK, then probe with the
    * incoming batch (source = src0, the dedup_incoming convention) and
    * exact-verify candidates at Jaccard ≥ 0.9.
    *
    * The DuckDB oracle computes the SAME probe directly over raw parquet
    * with no table layer, so the hash match proves the governed
    * write → append → reload roundtrip preserves the index bit-exactly
    * (the corpus_release precedent) on top of the banding law. Scale
    * shape: index build is the one-pass banded signature (shared
    * implementation, [[md5BandedSignature]]); a probe touches only the
    * batch's (band, bh) buckets; verify joins htoks by candidate id. */
  /** Handle to a persisted dedup index: the band-partitioned banded-
    * signature table + the reps (token-hash set) sidecar table. */
  /** Handle to the GOVERNED banded-MinHash dedup index: the two content
    * tables (banded signatures, rep token-hash sets) plus the MANIFEST
    * table that makes them readable as ONE consistent unit. The manifest
    * holds a single row `(k, bands, bands_v, reps_v)` naming the
    * published banding params and the content tables' pinned versions;
    * every reader resolves it first and reads both tables `asOf` the
    * named versions (VERDICT r13 item 6 — per-table snapshot isolation
    * alone lets an append/erasure/re-banding land between two "latest"
    * loads and serve a torn pairing). Writers append both content tables
    * and then PUBLISH — one atomic manifest overwrite, the same
    * pointer-swap protocol [[dedupIndexRefresh]] pioneered, now the only
    * read protocol. */
  final case class DedupIndex(bandsDir: String, repsDir: String,
                              manifestDir: String, k: Int, bands: Int)

  /** Logical shape of the published state. The manifest TABLE never
    * holds rows — the published values ride its snapshot-log PROPERTIES
    * (`manifest.k/bands/bands_v/reps_v`, see [[publishDedupManifestAt]])
    * so a publish is one log write and a resolve one file read; the
    * schema documents the contract and keeps the pointer table loadable
    * like any other. */
  private[graft] val dedupManifestSchema: StructType = StructType(Seq(
    StructField("k", IntegerType), StructField("bands", IntegerType),
    StructField("bands_v", IntegerType), StructField("reps_v", IntegerType)))

  /** (doc_id, ..., toks, htoks) prep shared by index build and probes —
    * sorted-distinct tokens plus their 60-bit md5 hash set. */
  private[graft] def md5DocSets(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", array_sort(array_distinct(tokens)))
      .withColumn("htoks", array_sort(array_distinct(transform(col("toks"),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast(LongType)))))

  /** ONE-md5-pass prep for the streaming ingest loop: (doc_id, htoks,
    * pairs) where `pairs(i)` carries BOTH 60-bit blocks of
    * md5(distinct-token i) — h1 (digits 1-15, the htoks element and the
    * minhash h1 seed) and h2 (digits 17-31, the minhash h2 seed). The
    * previous shape computed md5 over every token TWICE per batch (once
    * in [[md5DocSets]] for htoks, once in [[md5BandedSignature]] for the
    * signature); `htoks` here is definitionally identical
    * (array_sort ∘ array_distinct over the same per-token conv values,
    * in the same token order) and [[md5BandedSignatureFromPairs]]
    * reproduces the signature arithmetic bit-for-bit from (h1, h2). */
  private[graft] def md5DocHashPairs(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", array_sort(array_distinct(tokens)))
      .withColumn("hs", transform(col("toks"), t => md5(t)))
      .select(col("doc_id"),
        array_sort(array_distinct(transform(col("hs"),
          h => conv(substring(h, 1, 15), 16, 10).cast(LongType)))).as("htoks"),
        transform(col("hs"), h => struct(
          conv(substring(h, 1, 15), 16, 10).cast(LongType).as("h1"),
          conv(substring(h, 17, 15), 16, 10).cast(LongType).as("h2"))).as("pairs"))

  /** Creates the two empty content tables plus the manifest, and
    * publishes the (empty) initial state. */
  private[graft] def createDedupIndex(spark: SparkSession,
                                      k: Int = 64, bands: Int = 8): DedupIndex = {
    import graft.table.{GraftTable, PartitionField}
    val idx = DedupIndex(tmp("dedup_index_bands"), tmp("dedup_index_reps"),
      tmp("dedup_index_manifest"), k, bands)
    GraftTable.create(spark, idx.bandsDir,
      StructType(Seq(StructField("band", IntegerType),
        StructField("bh", StringType), StructField("doc_id", LongType))),
      spec = Seq(PartitionField("band", "identity")))
    GraftTable.create(spark, idx.repsDir,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("htoks", ArrayType(LongType)))))
    GraftTable.create(spark, idx.manifestDir, dedupManifestSchema)
    publishDedupManifest(spark, idx)
    idx
  }

  /** Idempotently tags `version` on the table (ref name `pin-v<N>`), so
    * [[graft.table.GraftTable.expireSnapshots]] — which exempts
    * ref-pinned snapshots and their data dirs from expiry — can never
    * garbage-collect a version a live manifest still names. Iceberg's
    * tag-exempts-snapshot retention rule applied to the index lifecycle
    * (VERDICT r13 item 2). Releasing a pin (after every manifest version
    * naming it is itself expired) is `dropRef("pin-v<N>")`. */
  private[graft] def pinVersion(t: graft.table.GraftTable, version: Int): Unit = {
    val name = s"pin-v$version"
    // hasRef, not refs.exists: one stat instead of an O(pins) listing —
    // the streaming ingest loop publishes (and pins) once per batch
    if (!t.hasRef(name))
      try t.createTag(name, version)
      catch {
        // two publishers raced to pin the same version: the tag name
        // encodes the version, so the survivor is the pin we wanted
        case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("already exists") => ()
      }
  }

  /** PUBLISH the content tables' current heads: tag-pins both versions
    * (so snapshot expiry can never reclaim a published version out from
    * under a manifest reader), then atomically swaps the manifest row to
    * name them. A crash before the swap leaves every reader on the
    * previous published pair — consistently. */
  private[graft] def publishDedupManifest(spark: SparkSession, idx: DedupIndex): Unit = {
    import graft.table.GraftTable
    publishDedupManifestAt(spark, idx, idx.k, idx.bands,
      GraftTable.load(spark, idx.bandsDir).currentVersion,
      GraftTable.load(spark, idx.repsDir).currentVersion)
  }

  /** [[publishDedupManifest]] at EXPLICIT params/versions — the refresh
    * protocol publishes a staged (re-banded) state that is deliberately
    * not the head it computed from. The published row rides the manifest
    * table's SNAPSHOT PROPERTIES ([[graft.table.GraftTable.setProperties]]),
    * so the atomic pointer swap is ONE log write and resolving it is a
    * file read — no Spark job on either side of the protocol (the shape
    * Iceberg's catalog pointer swap has: the manifest IS metadata). */
  private[graft] def publishDedupManifestAt(spark: SparkSession, idx: DedupIndex,
                                            kP: Int, bandsP: Int,
                                            bandsV: Int, repsV: Int): Unit = {
    import graft.table.GraftTable
    pinVersion(GraftTable.load(spark, idx.bandsDir), bandsV)
    pinVersion(GraftTable.load(spark, idx.repsDir), repsV)
    GraftTable.load(spark, idx.manifestDir)
      .setProperties(dedupManifestProps(kP, bandsP, bandsV, repsV))
  }

  private def dedupManifestProps(kP: Int, bandsP: Int,
                                 bandsV: Int, repsV: Int): Map[String, String] =
    Map("manifest.k" -> kP.toString, "manifest.bands" -> bandsP.toString,
      "manifest.bands_v" -> bandsV.toString, "manifest.reps_v" -> repsV.toString)

  /** Releases retention pins the manifest no longer needs: drops every
    * `pin-v<N>` tag on a content table whose version is not named by any
    * LIVE (non-expired) manifest snapshot. The pins exist to keep
    * PUBLISHED history servable — they must not veto the right to be
    * forgotten: the GDPR-erasure closer first expires the manifest's own
    * history (so no live manifest names a pre-erasure pair), then calls
    * this, then expires + vacuums the content tables, which may now
    * physically reclaim the pre-erasure versions. Metadata-scale: one
    * 1-row read per live manifest version. */
  private[graft] def releaseUnreferencedPins(spark: SparkSession, idx: DedupIndex): Unit = {
    import graft.table.GraftTable
    val mt = GraftTable.load(spark, idx.manifestDir)
    val named = (0 to mt.currentVersion).flatMap { v =>
      val s = mt.snapshotAt(v)
      if (s.op == "expired" ||
        !s.properties.contains("manifest.bands_v")) Nil
      else Seq((s.properties("manifest.bands_v").toInt,
        s.properties("manifest.reps_v").toInt))
    }
    def sweep(dir: String, keep: Set[Int]): Unit = {
      val t = GraftTable.load(spark, dir)
      t.refs
        .filter(r => r.refType == "tag" && r.name.startsWith("pin-v"))
        .filterNot(r => keep.contains(r.version))
        .foreach(r => t.dropRef(r.name))
    }
    sweep(idx.bandsDir, named.map(_._1).toSet)
    sweep(idx.repsDir, named.map(_._2).toSet)
  }

  /** One resolved manifest row — the ONLY read protocol for the index:
    * published params plus both content frames read `asOf` the named
    * versions. Readers never load "latest" of either content table, so a
    * concurrent append / erasure / re-banding cutover can never serve
    * bands of a doc with no reps row, or new-params signatures against
    * old-banding content. `manifestV` pins the WHOLE index as a unit
    * (time travel / serving continuity across a refresh). */
  private[graft] final case class ResolvedDedupIndex(
    k: Int, bands: Int, bandsV: Int, repsV: Int,
    bandsIdx: DataFrame, corpToks: DataFrame)

  private[graft] def resolveDedupIndex(spark: SparkSession, idx: DedupIndex,
                                       manifestV: Option[Int] = None): ResolvedDedupIndex = {
    import graft.table.GraftTable
    val mt = GraftTable.load(spark, idx.manifestDir)
    val v = manifestV.getOrElse(mt.currentVersion)
    val s = mt.snapshotAt(v)
    require(s.op != "expired",
      s"manifest version v$v has been expired (expireSnapshots); cannot resolve it")
    val p = s.properties
    require(Seq("manifest.k", "manifest.bands", "manifest.bands_v",
      "manifest.reps_v").forall(p.contains),
      s"dedup-index manifest v$v holds no published state")
    val (kP, bandsP) = (p("manifest.k").toInt, p("manifest.bands").toInt)
    val (bandsV, repsV) = (p("manifest.bands_v").toInt, p("manifest.reps_v").toInt)
    ResolvedDedupIndex(kP, bandsP, bandsV, repsV,
      GraftTable.load(spark, idx.bandsDir).asOf(bandsV)
        .select(col("band"), col("bh"), col("doc_id").as("corp_id")),
      GraftTable.load(spark, idx.repsDir).asOf(repsV)
        .select(col("doc_id").as("corp_id"), col("htoks").as("ct")))
  }

  /** Incremental maintenance: appends one corpus slice's banded
    * signatures + rep sets to the index tables (two plain commits). */
  private[graft] def appendDedupIndex(spark: SparkSession, idx: DedupIndex,
                                      slice: DataFrame): Unit =
    appendDedupIndexSig(spark, idx,
      md5BandedSignature(slice, idx.k, idx.bands), slice)

  /** [[appendDedupIndex]] from the batch's PRECOMPUTED narrow
    * projections — `sig` (doc_id, band, bh) and `ht` (doc_id, htoks) —
    * so a caller that already persisted them (the streaming ingest loop)
    * appends without re-deriving the signature from the token arrays.
    * Two content appends, then one atomic manifest PUBLISH: readers keep
    * serving the previous pair until the publish lands. */
  private[graft] def appendDedupIndexSig(spark: SparkSession, idx: DedupIndex,
                                         sig: DataFrame, ht: DataFrame): Unit = {
    import graft.table.GraftTable
    GraftTable.load(spark, idx.bandsDir).append(
      sig.select(col("band"), col("bh"), col("doc_id")))
    GraftTable.load(spark, idx.repsDir).append(
      ht.select(col("doc_id"), col("htoks")))
    publishDedupManifest(spark, idx)
  }

  /** [[appendDedupIndexSig]] as a CRASH-SAFE streaming commit (VERDICT
    * r13 item 1): each step — bands append, reps append, manifest
    * publish — is gated by its own table's exactly-once
    * [[graft.table.Snapshot.streamEpochs]] ledger under
    * `(consumerId.<step>, batchId)`. A post-crash Spark replay of a
    * fully-committed batch no-ops every step; a crash BETWEEN steps
    * resumes at the first uncommitted one and converges — the replayed
    * probe is deterministic because every read resolves the manifest,
    * which only advances as the LAST step. Requires the streaming query
    * to be checkpointed with a `consumerId` stable across restarts (the
    * standard transactional-foreachBatch contract). Returns true iff any
    * step committed (false = the whole batch had already landed). */
  private[graft] def appendDedupIndexSigEpoch(spark: SparkSession, idx: DedupIndex,
                                              sig: DataFrame, ht: DataFrame,
                                              consumerId: String,
                                              batchId: Long): Boolean = {
    val c = appendDedupIndexContentEpoch(spark, idx, sig, ht, consumerId, batchId)
    publishDedupManifestEpoch(spark, idx, consumerId, batchId) || c
  }

  /** The CONTENT half of [[appendDedupIndexSigEpoch]] — both ledger-gated
    * appends, no publish. Split out so the streaming ingest loop can
    * overlap them with its corpus append (all three precede the publish;
    * guide §2.6). The two appends hit independent tables — overlapped
    * here too. */
  private[graft] def appendDedupIndexContentEpoch(spark: SparkSession, idx: DedupIndex,
                                                  sig: DataFrame, ht: DataFrame,
                                                  consumerId: String,
                                                  batchId: Long): Boolean = {
    import graft.table.GraftTable
    @volatile var b = false
    @volatile var r = false
    graft.ops.Par.run(
      () => b = GraftTable.load(spark, idx.bandsDir).streamEpochWrite(
        sig.select(col("band"), col("bh"), col("doc_id")),
        s"$consumerId.bands", batchId, replace = false),
      () => r = GraftTable.load(spark, idx.repsDir).streamEpochWrite(
        ht.select(col("doc_id"), col("htoks")),
        s"$consumerId.reps", batchId, replace = false))
    b || r
  }

  /** The PUBLISH half of [[appendDedupIndexSigEpoch]]: pin + manifest
    * swap, itself ledger-gated so a replayed batch cannot double-bump
    * the manifest; the pins are idempotent either way. setPropertiesEpoch
    * is a pure log write — the publish costs no Spark job. MUST run after
    * every content commit of the batch (the crash-replay convergence
    * argument reads the index through the manifest). */
  private[graft] def publishDedupManifestEpoch(spark: SparkSession, idx: DedupIndex,
                                               consumerId: String,
                                               batchId: Long): Boolean = {
    import graft.table.GraftTable
    val bandsV = GraftTable.load(spark, idx.bandsDir).currentVersion
    val repsV = GraftTable.load(spark, idx.repsDir).currentVersion
    pinVersion(GraftTable.load(spark, idx.bandsDir), bandsV)
    pinVersion(GraftTable.load(spark, idx.repsDir), repsV)
    GraftTable.load(spark, idx.manifestDir).setPropertiesEpoch(
      dedupManifestProps(idx.k, idx.bands, bandsV, repsV),
      s"$consumerId.manifest", batchId)
  }

  /** Probes the index with a batch of (doc_id, toks, htoks) docs →
    * (in_id, corp_id, jac) pairs at Jaccard ≥ `threshold`. Resolves the
    * manifest (optionally at a pinned manifest version — time travel over
    * the whole index as a unit) and bands the batch under the PUBLISHED
    * params — the probe that stays correct across a re-banding cutover. */
  private[graft] def probeDedupIndex(spark: SparkSession, idx: DedupIndex,
                                     batch: DataFrame, threshold: Double,
                                     manifestV: Option[Int] = None): DataFrame = {
    val r = resolveDedupIndex(spark, idx, manifestV)
    probeDedupFrames(spark, r.bandsIdx, r.corpToks,
      md5BandedSignature(batch, r.k, r.bands),
      batch.select(col("doc_id"), col("htoks")), threshold)
  }

  /** [[probeDedupIndex]] from the batch's PRECOMPUTED narrow
    * projections (see [[appendDedupIndexSig]]): candidates by (band, bh)
    * equi-join against the manifest-pinned bands frame, exact-Jaccard
    * verify against the manifest-pinned reps frame. The precomputed
    * signatures carry the caller's banding, so a published param retune
    * since they were computed fails LOUDLY instead of silently matching
    * nothing against re-banded content. */
  private[graft] def probeDedupIndexSig(spark: SparkSession, idx: DedupIndex,
                                        sig: DataFrame, ht: DataFrame,
                                        threshold: Double): DataFrame = {
    val r = resolveDedupIndex(spark, idx)
    require(r.k == idx.k && r.bands == idx.bands,
      s"precomputed signatures banded at (k=${idx.k}, bands=${idx.bands}) but " +
        s"the manifest published (k=${r.k}, bands=${r.bands}) — re-band the " +
        "batch under the published params (probeDedupIndex)")
    probeDedupFrames(spark, r.bandsIdx, r.corpToks, sig, ht, threshold)
  }

  /** The probe's frame-level core — candidates by (band, bh) equi-join,
    * exact-Jaccard verify — over CALLER-RESOLVED index frames, so probes
    * can read latest ([[probeDedupIndexSig]]) or a manifest-pinned
    * version ([[dedupIndexRefresh]]) through one implementation. */
  private def probeDedupFrames(spark: SparkSession, bandsIdx: DataFrame,
                               corpToks: DataFrame, sig: DataFrame,
                               ht: DataFrame, threshold: Double): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    val cand = sig
      .select(col("doc_id").as("in_id"), col("band"), col("bh"))
      .join(bandsIdx, Seq("band", "bh"))
      .select(col("in_id"), col("corp_id")).distinct()
    val inter = graft.functions.TextSignatureFunctions
      .sorted_intersect_count(col("t"), col("ct"))
    cand
      .join(ht.select(col("doc_id").as("in_id"), col("htoks").as("t")), "in_id")
      .join(corpToks, "corp_id")
      .withColumn("jac", inter.cast(DoubleType) /
        (size(col("t")) + size(col("ct")) - inter))
      .filter(col("jac") >= threshold)
      .select(col("in_id"), col("corp_id"), round(col("jac"), 4).as("jac"))
      .orderBy("in_id", "corp_id")
  }

  /** Session-lifetime cache of the BUILT banded dedup index for a given
    * (documents dir, corpus split, banding params) — the [[Similarity]]
    * base-ANN-index pattern applied here: an index is built once and
    * probed/churned for months, so pricing a full corpus banding into
    * every probe/erasure/refresh measurement misstates the steady-state
    * cost. Read-only probes share the base directly; mutating queries
    * ([[dedupIndexErasure]], [[dedupIndexRefresh]]) clone the table(s)
    * they modify, so the shared base is never mutated. */
  private val dedupIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int), DedupIndex]()

  /** Build-once base index over the corpus split (`source` other than
    * `incomingSource`): two incremental appends (bulk build +
    * assign-and-append maintenance step) into the banded signatures and
    * rep-set tables. */
  private def baseDedupIndex(spark: SparkSession, dir: String,
                             incomingSource: String, k: Int, bands: Int): DedupIndex = {
    val key = (new java.io.File(dir).getCanonicalPath, incomingSource, k, bands)
    dedupIndexCache.computeIfAbsent(key, { _ =>
      val corpus = md5DocSets(
        documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
          .filter(col("source") =!= incomingSource))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val idx = createDedupIndex(spark, k, bands)
        // incremental maintenance: two appends, split on doc_id % 3
        appendDedupIndex(spark, idx, corpus.filter(col("doc_id") % 3 =!= 0))
        appendDedupIndex(spark, idx, corpus.filter(col("doc_id") % 3 === 0))
        idx
      } finally corpus.unpersist()
    })
  }

  /** Explicitly builds the session-lifetime base dedup indexes for `dir`
    * at the parameter points the graded lifecycle queries share —
    * (k=64, bands=8) for probe/erasure/churn and (k=64, bands=2) for the
    * refresh's pre-retune banding — for harness SETUP code
    * (ShuffleBudgetSpec, Bench), so measured per-query budgets are
    * order-independent instead of assuming another query built the base
    * first (ADVICE r13). Idempotent. */
  private[graft] def warmSessionBases(spark: SparkSession, dir: String): Unit = {
    // the lifecycle queries register before use; setup must too
    graft.functions.TextSignatureFunctions.register(spark)
    baseDedupIndex(spark, dir, "src0", 64, 8)
    baseDedupIndex(spark, dir, "src0", 64, 2)
    ()
  }

  private[graft] def dedupIndexProbe(spark: SparkSession, dir: String,
                                     incomingSource: String = "src0",
                                     k: Int = 64, bands: Int = 8,
                                     threshold: Double = 0.9): DataFrame = {
    val idx = baseDedupIndex(spark, dir, incomingSource, k, bands)
    probeDedupIndex(spark, idx,
      md5DocSets(documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .filter(col("source") === incomingSource)), threshold)
  }

  /** The shared DuckDB CTE prefix reproducing [[md5BandedSignature]]:
    * `d0` (sorted-distinct tokens + any extra projected columns), `rh`
    * (60-bit md5 token-hash sets), and `banded` ((doc_id, band, bh)
    * banded MinHash signatures) — ONE implementation under every oracle
    * that replays the production banding (`dedup_index_probe`,
    * `stream_ingest_dedup`), so the SQL twin cannot drift from itself. */
  private[graft] def md5BandedSqlCtes(k: Int = 64, bands: Int = 8,
                                      extraCols: String = ""): String = {
    val r = k / bands
    val mins = (0 until k).map(i =>
      s"MIN((h1m + $i * h2m) % 1000000007) AS m$i").mkString(",\n        ")
    val bandSelects = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($slice) AS bh FROM sig"
    }.mkString("\n       UNION ALL ")
    s"""d0 AS (SELECT doc_id, $extraCols
       |              list_sort(list_distinct(string_split(text, ' '))) AS toks
       |            FROM documents),
       |rh AS (SELECT doc_id, list_sort(list_distinct(list_transform(toks,
       |         t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)))) AS htoks
       |       FROM d0),
       |tok AS (SELECT doc_id, md5(t) AS h FROM (SELECT doc_id, unnest(toks) AS t FROM d0)),
       |g AS (SELECT doc_id,
       |        CAST('0x' || substring(h, 1, 15) AS BIGINT) % 1000000007 AS h1m,
       |        (CAST('0x' || substring(h, 17, 15) AS BIGINT) | 1) % 1000000007 AS h2m
       |      FROM tok),
       |sig AS (SELECT doc_id,
       |        $mins
       |      FROM g GROUP BY doc_id),
       |banded AS ($bandSelects)""".stripMargin
  }

  /** ERASURE from the governed dedup index — the right-to-be-forgotten
    * flow of a 100 TB corpus, applied to [[dedupIndexProbe]]'s banded
    * index: on a clone of the BUILT base index ([[baseDedupIndex]] —
    * erasure operates on a built index, it doesn't rebuild one), an
    * erasure cohort
    * (`doc_id % 13 == 7`) leaves BOTH index tables as merge-on-read
    * equality rowDeltas keyed on `doc_id` — 8 band rows and 1 reps row
    * per doc retire with NO data rewrite, the only erasure shape that
    * stays affordable at index scale. The probe then runs against the
    * MoR state, `compact()` retires the delete files on both tables, and
    * the probe re-runs on the compacted state — the query `require`s the
    * two answers identical and that no erased doc ever surfaces as a
    * match. The DuckDB oracle filters the cohort arithmetically from the
    * corpus side of the shared banding CTEs, so the hash match proves
    * erased docs are unfindable through every candidate path (band
    * collision AND exact-Jaccard verify) after a pure-metadata delete. */
  private[graft] def dedupIndexErasure(spark: SparkSession, dir: String,
                                       incomingSource: String = "src0",
                                       k: Int = 64, bands: Int = 8,
                                       threshold: Double = 0.9): DataFrame = {
    import graft.table.GraftTable
    // erasure MUTATES both index tables, so it clones the shared built
    // base ([[baseDedupIndex]]) instead of rebuilding the banding
    val base = baseDedupIndex(spark, dir, incomingSource, k, bands)
    val idx = DedupIndex(tmp("dedup_erasure_bands"), tmp("dedup_erasure_reps"),
      tmp("dedup_erasure_manifest"), k, bands)
    // the two clones copy disjoint trees — overlap them (guide §2.6)
    graft.ops.Par.run(
      () => Similarity.cloneTable(spark, base.bandsDir, idx.bandsDir),
      () => Similarity.cloneTable(spark, base.repsDir, idx.repsDir))
    // the clone gets its OWN manifest (the clone is an independent index)
    GraftTable.create(spark, idx.manifestDir, dedupManifestSchema)
    publishDedupManifest(spark, idx)
    locally {
      // ERASE: the cohort leaves both index tables (MoR, no rewrite);
      // the erased-id set needs no signatures — a plain corpus filter
      val erased = documents(spark, dir)
        .filter(col("source") =!= incomingSource && col("doc_id") % 13 === 7)
        .select(col("doc_id"))
      // independent tables, independent commits — overlap the two MoR
      // deletes; visibility still waits on the single manifest publish
      graft.ops.Par.run(Seq(idx.bandsDir, idx.repsDir).map(d => () => {
        GraftTable.load(spark, d).upgradeFormat(2)
        GraftTable.load(spark, d).rowDelta(erased,
          GraftTable.load(spark, d).toDF.limit(0), Seq("doc_id"))
        ()
      }): _*)
      // the erasure is visible to probes only once PUBLISHED — the same
      // cutover discipline as appends
      publishDedupManifest(spark, idx)
      val incoming = md5DocSets(documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .filter(col("source") === incomingSource))
      // the incoming batch's narrow projections compute ONCE and feed
      // both probes; each probe materializes ONCE (localCheckpoint) —
      // the drift/ghost requires and the caller's collect otherwise
      // re-execute the whole banding join per action
      val sig = md5BandedSignature(incoming, idx.k, idx.bands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ht = incoming.select(col("doc_id"), col("htoks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val mor = probeDedupIndexSig(spark, idx, sig, ht, threshold)
          .localCheckpoint(true)
        graft.ops.Par.run(Seq(idx.bandsDir, idx.repsDir).map(d => () => {
          GraftTable.load(spark, d).compact(); ()
        }): _*)
        publishDedupManifest(spark, idx)
        val compacted = probeDedupIndexSig(spark, idx, sig, ht, threshold)
          .localCheckpoint(true)
        val drift = mor.exceptAll(compacted).count() +
          compacted.exceptAll(mor).count()
        require(drift == 0,
          s"compaction changed the probe answer ($drift differing rows)")
        val ghosts = compacted
          .join(erased.select(col("doc_id").as("corp_id")), Seq("corp_id")).count()
        require(ghosts == 0, s"$ghosts erased docs surfaced as dedup matches")
        compacted
      } finally { sig.unpersist(); ht.unpersist() }
    }
  }

  private def dedupIndexErasureOracle(incomingSource: String = "src0",
                                      k: Int = 64, bands: Int = 8,
                                      threshold: Double = 0.9): String = {
    s"""WITH ${md5BandedSqlCtes(k, bands, extraCols = "source,")},
       |src AS (SELECT doc_id, source FROM d0),
       |cand AS (SELECT DISTINCT bi.doc_id AS in_id, bc.doc_id AS corp_id
       |         FROM banded bi JOIN src si ON si.doc_id = bi.doc_id
       |         JOIN banded bc ON bi.band = bc.band AND bi.bh = bc.bh
       |         JOIN src sc ON sc.doc_id = bc.doc_id
       |         WHERE si.source = '$incomingSource' AND sc.source <> '$incomingSource'
       |           AND bc.doc_id % 13 <> 7),
       |v AS (SELECT c.in_id, c.corp_id,
       |        len(list_intersect(ra.htoks, rb.htoks)) AS inter,
       |        len(ra.htoks) AS an, len(rb.htoks) AS bn
       |      FROM cand c JOIN rh ra ON ra.doc_id = c.in_id
       |                  JOIN rh rb ON rb.doc_id = c.corp_id)
       |SELECT in_id, corp_id,
       |       ROUND(CAST(inter AS DOUBLE) / (an + bn - inter), 4) AS jac
       |FROM v WHERE CAST(inter AS DOUBLE) / (an + bn - inter) >= $threshold
       |ORDER BY in_id, corp_id""".stripMargin
  }

  private def dedupIndexProbeOracle(incomingSource: String = "src0",
                                    k: Int = 64, bands: Int = 8,
                                    threshold: Double = 0.9): String = {
    s"""WITH ${md5BandedSqlCtes(k, bands, extraCols = "source,")},
       |src AS (SELECT doc_id, source FROM d0),
       |cand AS (SELECT DISTINCT bi.doc_id AS in_id, bc.doc_id AS corp_id
       |         FROM banded bi JOIN src si ON si.doc_id = bi.doc_id
       |         JOIN banded bc ON bi.band = bc.band AND bi.bh = bc.bh
       |         JOIN src sc ON sc.doc_id = bc.doc_id
       |         WHERE si.source = '$incomingSource' AND sc.source <> '$incomingSource'),
       |v AS (SELECT c.in_id, c.corp_id,
       |        len(list_intersect(ra.htoks, rb.htoks)) AS inter,
       |        len(ra.htoks) AS an, len(rb.htoks) AS bn
       |      FROM cand c JOIN rh ra ON ra.doc_id = c.in_id
       |                  JOIN rh rb ON rb.doc_id = c.corp_id)
       |SELECT in_id, corp_id,
       |       ROUND(CAST(inter AS DOUBLE) / (an + bn - inter), 4) AS jac
       |FROM v WHERE CAST(inter AS DOUBLE) / (an + bn - inter) >= $threshold
       |ORDER BY in_id, corp_id""".stripMargin
  }

  /** RE-BANDING REFRESH of the governed dedup index — the symmetry the
    * ANN index already has ([[Similarity]] `annIndexRefresh`): banding
    * parameters are retuned (here 2 → 8 bands at the same k=64, lifting
    * per-band match probability from s^32 to s^8 — a deliberate recall
    * upgrade on a 0.9-threshold corpus), which requires re-staging the
    * banded signatures table, and a reader must never pair NEW banding
    * params with OLD signatures (an incoming batch banded 8-ways
    * equi-joined against 2-way corpus rows silently matches nothing).
    * Per-table snapshot isolation cannot close that window, so the
    * cutover goes through a MANIFEST table — one row naming the
    * published (k, bands, bands table version, reps table version).
    * Every probe resolves the manifest (optionally at a pinned manifest
    * version), bands the INCOMING batch under the manifest's params, and
    * reads both index tables `asOf` the named versions; the staged
    * re-banding overwrite is invisible until the single atomic manifest
    * overwrite publishes it. The query `require`s (a) a reader pinned to
    * the pre-refresh manifest keeps serving the OLD banding's exact
    * answer, and (b) the refresh STRICTLY GREW the matched set (the
    * recall upgrade is observable — at r=32 a 0.9-Jaccard pair survives
    * a band only with probability ≈0.03, so the 2-band answer is a
    * proper subset). The graded answer is the post-refresh probe, whose
    * DuckDB oracle bands arithmetically at the NEW params
    * ([[dedupIndexProbeOracle]]) — the hash match proves the published
    * cutover landed bit-exactly.
    *
    * The reps table (banding-invariant htoks) is shared read-only from
    * the built base index; only the bands table is cloned and re-staged —
    * and the staged 8-band signatures are READ from the already-built
    * 8-band base index rather than recomputed. */
  private[graft] def dedupIndexRefresh(spark: SparkSession, dir: String,
                                       incomingSource: String = "src0",
                                       k: Int = 64, oldBands: Int = 2,
                                       newBands: Int = 8,
                                       threshold: Double = 0.9): DataFrame = {
    import graft.table.GraftTable
    val base = baseDedupIndex(spark, dir, incomingSource, k, oldBands)
    val baseNew = baseDedupIndex(spark, dir, incomingSource, k, newBands)
    val bandsDir = tmp("dedup_refresh_bands")
    Similarity.cloneTable(spark, base.bandsDir, bandsDir)
    val repsDir = base.repsDir
    val manDir = tmp("dedup_refresh_manifest")
    GraftTable.create(spark, manDir, dedupManifestSchema)
    val idx = DedupIndex(bandsDir, repsDir, manDir, k, oldBands)
    val incoming = md5DocSets(documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .filter(col("source") === incomingSource))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the only reader protocol ([[resolveDedupIndex]] — now shared by
    // EVERY probe, not just the refresh): resolve the manifest row, band
    // the incoming batch under ITS params, read both tables asOf ITS
    // pinned versions — nobody reads "latest" of either index table
    def probeVia(manifestV: Option[Int] = None): DataFrame = {
      val r = resolveDedupIndex(spark, idx, manifestV)
      probeDedupFrames(spark, r.bandsIdx, r.corpToks,
        md5BandedSignature(incoming, r.k, r.bands),
        incoming.select(col("doc_id"), col("htoks")), threshold)
    }
    try {
      // BUILD publish: the cloned bands table already holds the corpus
      // banded under the old params
      publishDedupManifestAt(spark, idx, k, oldBands,
        GraftTable.load(spark, bandsDir).currentVersion,
        GraftTable.load(spark, repsDir).currentVersion)
      val manPreV = GraftTable.load(spark, manDir).currentVersion
      val pre = probeVia().collect()
      // REFRESH: stage the re-banded signatures (an atomic but
      // UNPUBLISHED overwrite — a crash here leaves every reader on the
      // old banding consistently), then the manifest overwrite IS the
      // cutover. The 8-band corpus signatures already exist in the
      // built base index at the new params — stage by reading them, not
      // by re-banding the corpus text
      GraftTable.load(spark, bandsDir).overwrite(
        GraftTable.load(spark, baseNew.bandsDir).toDF
          .select(col("band"), col("bh"), col("doc_id")))
      publishDedupManifestAt(spark, idx, k, newBands,
        GraftTable.load(spark, bandsDir).currentVersion,
        GraftTable.load(spark, repsDir).currentVersion)
      // RETENTION MID-LIFECYCLE (VERDICT r13 item 2): expire the bands
      // clone right after the cutover — the re-banding overwrite left the
      // old signatures referenced only by expirable snapshots, and ONLY
      // the publish-time pin tags keep them servable; the pinned probe
      // below must hold its exact answer THROUGH the expiry. (The reps
      // table is the SHARED base index — its lifecycle isn't this run's
      // to expire; DedupIndexRetentionSpec covers both tables in depth.)
      GraftTable.load(spark, bandsDir).expireSnapshots(1)
      // SERVING CONTINUITY: a reader pinned to the pre-refresh manifest
      // still bands 2-ways and probes the old signatures exactly
      val timeTravel = probeVia(Some(manPreV)).collect()
      require(timeTravel.sameElements(pre),
        "pinned-manifest probe diverged from the pre-refresh answer — " +
          "the pointer-swap cutover leaked")
      // the recall upgrade must be OBSERVABLE: the published refresh
      // strictly grows the matched set on this corpus
      val post = probeVia().localCheckpoint(true)
      require(post.count() > pre.length,
        s"re-banding $oldBands -> $newBands did not grow the matched set " +
          s"(${pre.length} before)")
      post
    } finally incoming.unpersist()
  }

  /** Golden-vector anchor for every xxh64-based bit-level construction
    * (VERDICT r7 item 4): fixed inputs → the exact 64-bit outputs of
    *  - Spark's `xxhash64` on string, empty-string and BIGINT inputs
    *    (seed 42 — the hash family every signature builds on),
    *  - [[graft.functions.MinHashSignature]] over string tokens AND the
    *    pre-hashed `htoks` long-array path (both `longInput` branches),
    *  - [[graft.functions.SimHash]] over both input types,
    *  - both expressions' empty-array edge (MinHash → Long.MaxValue
    *    sentinel lanes, SimHash → 0),
    *  - the driver-side replica `GraftShim.xxh64Of` (bloom-probe literal
    *    hashing) — embedded as a plan-time literal so replica drift
    *    from the engine value breaks the hash match.
    * The DuckDB oracle is the pinned literal table: any change to the
    * mixers, the double-hash construction g_i = h1 + i·h2, the bit-vote
    * loop, or Spark's own XXH64 shows up as a CORRECTNESS hash mismatch.
    * Pure metadata-scale (a dozen literal rows); `dir` is unused. */
  private[graft] def xxh64VectorsQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    val toks = Seq("the", "quick", "brown", "fox", "jumps",
      "over", "the", "lazy", "dog")
    val strArr = array(toks.map(lit): _*)
    // the htoks construction verbatim (dedupIncoming / setReps):
    // sorted distinct xxhash64 of each token
    val longArr = array_sort(array_distinct(transform(strArr, t => xxhash64(t))))
    val emptyArr = array().cast(ArrayType(StringType, containsNull = false))
    val mhS = graft.functions.TextSignatureFunctions.minhash_signature(strArr, 4)
    val mhL = graft.functions.TextSignatureFunctions.minhash_signature(longArr, 4)
    val mhE = graft.functions.TextSignatureFunctions.minhash_signature(emptyArr, 4)
    val driverReplica = org.apache.spark.sql.GraftShim
      .xxh64Of("graft", StringType, spark.sessionState.conf.sessionLocalTimeZone)
      .getOrElse(sys.error("GraftShim.xxh64Of returned None for a plain string"))
    val vecs: Seq[(String, Column)] =
      Seq(
        "x_str_empty" -> xxhash64(lit("")),
        "x_str_a" -> xxhash64(lit("a")),
        "x_str_graft" -> xxhash64(lit("graft")),
        "x_str_graft_driver" -> lit(driverReplica),
        "x_long_0" -> xxhash64(lit(0L)),
        "x_long_42" -> xxhash64(lit(42L)),
        "sh_str" -> graft.functions.TextSignatureFunctions.simhash(strArr),
        "sh_long" -> graft.functions.TextSignatureFunctions.simhash(longArr),
        "sh_empty" -> graft.functions.TextSignatureFunctions.simhash(
          emptyArr)) ++
        (0 until 4).map(i => s"mh_str_$i" -> element_at(mhS, i + 1)) ++
        (0 until 4).map(i => s"mh_long_$i" -> element_at(mhL, i + 1)) ++
        Seq("mh_empty_0" -> element_at(mhE, 1))
    spark.range(1).select(explode(array(vecs.map { case (n, c) =>
      struct(lit(n).as("name"), c.cast(LongType).as("value"))
    }: _*)).as("kv")).select(col("kv.name").as("name"), col("kv.value").as("value"))
      .orderBy("name")
  }

  /** The pinned golden vectors — computed ONCE from the expressions
    * above and frozen here; the oracle serves them as literals. If an
    * implementation change moves any value, the right fix is almost
    * never to re-pin: these anchor on-disk signature compatibility
    * (re-banding a 100 TB corpus because a mixer drifted is the failure
    * this query exists to catch). */
  private[graft] val xxh64GoldenVectors: Seq[(String, Long)] = Seq(
    ("mh_empty_0", 9223372036854775807L),
    ("mh_long_0", -6657237051756031738L),
    ("mh_long_1", 1707867991930276892L),
    ("mh_long_2", -3552389845521150932L),
    ("mh_long_3", -7618704739109871087L),
    ("mh_str_0", -7218119314818339858L),
    ("mh_str_1", -4819455124539293452L),
    ("mh_str_2", -6526909713420152779L),
    ("mh_str_3", -2392945342917684575L),
    ("sh_empty", 0L),
    ("sh_long", 6931544524175161384L),
    ("sh_str", -7573889167326994222L),
    ("x_long_0", -5252525462095825812L),
    ("x_long_42", -6876166290308861218L),
    ("x_str_a", -8582455328737087284L),
    ("x_str_empty", -7444071767201028348L),
    ("x_str_graft", -4815631219266125053L),
    ("x_str_graft_driver", -4815631219266125053L))

  private def xxh64VectorsOracle: String =
    xxh64GoldenVectors
      .map { case (n, v) => s"('$n', CAST($v AS BIGINT))" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS t(name, value) ORDER BY name")


  /** MinHash-LSH CALIBRATION table — the measurement you read before
    * choosing (k, b, r) for a 100 TB dedup run: over a deterministic
    * md5-ordered sample of `cap` set-collapsed reps, every pair reports
    * the k-minima Jaccard ESTIMATE (matching-minima fraction), the EXACT
    * Jaccard, and whether any of the b bands collides; bucketed by exact
    * Jaccard (decile), the aggregate shows estimator bias and the
    * empirical banding s-curve next to the closed-form 1-(1-j^r)^b.
    *
    * Same md5 double-hash construction as the graded `dedup_minhash_lsh`
    * pipeline, so the calibration measures the production signatures.
    * The theory column is libm-free: j^r and (1-x)^b expand to explicit
    * multiplication chains (IEEE-exact cross-engine, unlike pow), and
    * every averaged value is rounded to 9dp before DECIMAL aggregation
    * (HACKING: double->DECIMAL(30,15) casts can wobble the 15th digit on
    * full-precision quotients). Scale shape: the sample is a TakeOrdered
    * cap (no global sort), everything after is O(cap^2) — CONSTANT in
    * corpus size, like the embedding-cosine verify precedent. */
  private def minhashCalibrationQuery(spark: SparkSession, dir: String,
                                      k: Int = 64, bands: Int = 8,
                                      cap: Int = 400): DataFrame = {
    graft.functions.TextSignatureFunctions.register(spark)
    val p = 1000000007L
    val r = k / bands
    val sample = documents(spark, dir)
      .select(col("doc_id"), array_sort(array_distinct(tokens)).as("toks"))
      .withColumn("set_key", md5(concat_ws("\u0001", col("toks"))))
      .groupBy(col("set_key"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("toks")).as("toks"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id")).limit(cap)
      .withColumn("htoks", array_sort(array_distinct(transform(col("toks"),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast(LongType)))))
      .localCheckpoint(true) // cap rows; consumed by sig build + both pair sides
    val tok = sample.select(col("doc_id"), explode(col("toks")).as("t"))
      .withColumn("h", md5(col("t")))
    val hashed = tok.select(col("doc_id"),
      (conv(substring(col("h"), 1, 15), 16, 10).cast(LongType) % p).as("h1m"),
      (conv(substring(col("h"), 17, 15), 16, 10).cast(LongType)
        .bitwiseOR(lit(1L)) % p).as("h2m"))
    val mins = (0 until k).map(i =>
      min((col("h1m") + lit(i.toLong) * col("h2m")) % p).as(s"m$i"))
    val sig = hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .join(sample.select(col("doc_id"), col("htoks")), "doc_id")
    def side(pre: String) = sig.select(
      col("doc_id").as(s"${pre}id") +: col("htoks").as(s"${pre}h") +:
        (0 until k).map(i => col(s"m$i").as(s"$pre$i")): _*)
    val inter = graft.functions.TextSignatureFunctions
      .sorted_intersect_count(col("ah"), col("bh"))
    val est = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      .cast(DoubleType) / k
    val bandHit = (0 until bands).map { b =>
      when((b * r until (b + 1) * r).map(i => col(s"a$i") === col(s"b$i"))
        .reduce(_ && _), 1).otherwise(0)
    }.reduce(_ + _) > 0
    val pairs = side("a").crossJoin(side("b"))
      .filter(col("aid") < col("bid"))
      .withColumn("jac", inter.cast(DoubleType) /
        (size(col("ah")) + size(col("bh")) - inter))
      .withColumn("est", est)
      .withColumn("hit", bandHit)
    val jr = (1 to r).map(_ => col("jac")).reduce(_ * _) // jac^r, no libm
    val miss1 = lit(1.0) - jr
    val theory = lit(1.0) - (1 to bands).map(_ => miss1).reduce(_ * _)
    pairs
      .withColumn("bucket", floor(col("jac") * 10).cast(IntegerType))
      .withColumn("err9", round(abs(col("est") - col("jac")), 9))
      .withColumn("th9", round(theory, 9))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round((sum(col("err9").cast(DecimalType(30, 15))) / count(lit(1)))
          .cast(DoubleType), 6).as("mean_abs_err"),
        round(sum(when(col("hit"), 1L).otherwise(0L)).cast(DoubleType)
          / count(lit(1)), 6).as("band_hit_rate"),
        round((sum(col("th9").cast(DecimalType(30, 15))) / count(lit(1)))
          .cast(DoubleType), 6).as("theory_hit_rate"))
      .orderBy("bucket")
  }

  /** DuckDB mirror of [[minhashCalibrationQuery]]: same sample cap, md5
    * double-hash minima, matching-minima estimate, band conjunctions,
    * multiplication-chain s-curve, 9dp-then-DECIMAL means. */
  private def minhashCalibrationOracle(k: Int = 64, bands: Int = 8,
                                       cap: Int = 400): String = {
    val r = k / bands
    val mins = (0 until k).map(i =>
      s"MIN((h1m + $i * h2m) % 1000000007) AS m$i").mkString(",\n        ")
    val estTerms = (0 until k).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val bandTerms = (0 until bands).map { b =>
      val conj = (b * r until (b + 1) * r).map(i => s"a.m$i = b.m$i").mkString(" AND ")
      s"CASE WHEN $conj THEN 1 ELSE 0 END"
    }.mkString(" + ")
    val jr = (1 to r).map(_ => "jac").mkString(" * ")
    val missChain = (1 to bands).map(_ => s"(1.0 - ($jr))").mkString(" * ")
    s"""WITH d0 AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
       |            FROM documents),
       |reps AS (SELECT MIN(doc_id) AS doc_id, ANY_VALUE(toks) AS toks
       |         FROM d0 GROUP BY md5(array_to_string(toks, chr(1)))),
       |samp AS (SELECT doc_id, toks,
       |           list_sort(list_distinct(list_transform(toks,
       |             t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)))) AS htoks
       |         FROM reps ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $cap),
       |tok AS (SELECT doc_id, md5(t) AS h FROM (SELECT doc_id, unnest(toks) AS t FROM samp)),
       |g AS (SELECT doc_id,
       |        CAST('0x' || substring(h, 1, 15) AS BIGINT) % 1000000007 AS h1m,
       |        (CAST('0x' || substring(h, 17, 15) AS BIGINT) | 1) % 1000000007 AS h2m
       |      FROM tok),
       |sig AS (SELECT doc_id,
       |        $mins
       |      FROM g GROUP BY doc_id),
       |sh AS (SELECT sig.*, samp.htoks FROM sig JOIN samp USING (doc_id)),
       |pr AS (SELECT a.doc_id AS aid, b.doc_id AS bid,
       |         CAST(len(list_intersect(a.htoks, b.htoks)) AS DOUBLE)
       |           / (len(a.htoks) + len(b.htoks) - len(list_intersect(a.htoks, b.htoks))) AS jac,
       |         CAST($estTerms AS DOUBLE) / $k AS est,
       |         ($bandTerms) > 0 AS hit
       |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |e AS (SELECT CAST(floor(jac * 10) AS INT) AS bucket,
       |        ROUND(abs(est - jac), 9) AS err9,
       |        ROUND(1.0 - ($missChain), 9) AS th9, hit
       |      FROM pr)
       |SELECT bucket, count(*) AS n_pairs,
       |  ROUND(CAST(SUM(CAST(err9 AS DECIMAL(30,15))) / count(*) AS DOUBLE), 6) AS mean_abs_err,
       |  ROUND(CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS band_hit_rate,
       |  ROUND(CAST(SUM(CAST(th9 AS DECIMAL(30,15))) / count(*) AS DOUBLE), 6) AS theory_hit_rate
       |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_stratified" -> ((s: SparkSession, d: String) => stratifiedSample(s, d)),
    "dedup_exact" -> dedupExact,
    "dedup_normalized" -> ((s: SparkSession, d: String) => dedupNormalized(s, d)),
    "text_stats" -> textStats,
    "text_quality" -> textQuality,
    "text_repetition" -> textRepetition,
    "decontaminate" -> decontaminate,
    "text_langid" -> textLangid,
    "token_count" -> tokenCount,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_incoming" -> ((s: SparkSession, d: String) => dedupIncoming(s, d)),
    "dedup_index_probe" -> ((s: SparkSession, d: String) => dedupIndexProbe(s, d)),
    "dedup_index_erasure" -> ((s: SparkSession, d: String) => dedupIndexErasure(s, d)),
    "dedup_index_refresh" -> ((s: SparkSession, d: String) => dedupIndexRefresh(s, d)),
    "dedup_clusters" -> ((s: SparkSession, d: String) => clustersExactQuery(s, d)),
    "dedup_minhash_lsh" -> ((s: SparkSession, d: String) => minhashMd5PairsQuery(s, d)),
    "dedup_simhash" -> ((s: SparkSession, d: String) => simhashMd5GatedQuery(s, d)),
    "simhash_md5" -> ((s: SparkSession, d: String) => simhashMd5Query(s, d)),
    "minhash_md5" -> ((s: SparkSession, d: String) => minhashMd5Query(s, d)),
    "minhash_calibration" -> ((s: SparkSession, d: String) => minhashCalibrationQuery(s, d)),
    "gopher_rules" -> ((s: SparkSession, d: String) => gopherRules(s, d)),
    "heavy_hitters" -> ((s: SparkSession, d: String) => heavyHitters(s, d)),
    "doc_fingerprint" -> fingerprintQuery,
    "winnow_fingerprint" -> ((s: SparkSession, d: String) => winnowQuery(s, d)),
    "xxh64_vectors" -> ((s: SparkSession, d: String) => xxh64VectorsQuery(s, d))
  )

  val oracles: Map[String, String] = Map(
    "xxh64_vectors" -> xxh64VectorsOracle,
    "winnow_fingerprint" -> winnowOracle(),
    "simhash_md5" -> simhashMd5Oracle,
    "dedup_simhash" -> simhashMd5PairsOracle(),
    "dedup_minhash_lsh" -> minhashMd5PairsOracle(),
    "gopher_rules" -> gopherRulesOracle,
    "heavy_hitters" -> heavyHittersOracle(),
    "minhash_md5" -> minhashMd5Oracle,
    "minhash_calibration" -> minhashCalibrationOracle(),
    "sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "dedup_normalized" -> dedupNormalizedOracle,
    "dedup_index_probe" -> dedupIndexProbeOracle(),
    "dedup_index_erasure" -> dedupIndexErasureOracle(),
    "dedup_index_refresh" -> dedupIndexProbeOracle(bands = 8),
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
        |  CAST(MAX(len(string_split(text,' '))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS INT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text,' '))) AS INT) AS n_distinct_tok,
        |  ROUND(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')), 4) AS ttr,
        |  ROUND(CAST(n_chars AS DOUBLE) / len(string_split(text,' ')), 4) AS chars_per_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "decontaminate" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, source,
        |        unnest(list_distinct(list_transform(generate_series(1, len(w)-7),
        |          i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]))) AS g
        |      FROM w),
        |bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        |shared AS (SELECT g.doc_id, count(*) AS n_shared
        |           FROM g JOIN bench USING (g) WHERE g.source != 'src0' GROUP BY 1)
        |SELECT d.doc_id, COALESCE(s.n_shared, 0) AS n_shared,
        |       COALESCE(s.n_shared, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE source != 'src0') d
        |LEFT JOIN shared s USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, len(w) AS n_tok,
        |    list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1]) AS g2,
        |    list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
        |  FROM d)
        |SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
        |  CASE WHEN len(g2) > 0 THEN ROUND(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2), 4) ELSE 0.0 END AS dup2_frac,
        |  CASE WHEN len(g3) > 0 THEN ROUND(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3), 4) ELSE 0.0 END AS dup3_frac,
        |  (CASE WHEN len(g3) > 0 THEN ROUND(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3), 4) ELSE 0.0 END) < 0.5 AS keep
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """SELECT lang,
        |  CASE WHEN text LIKE '% the %' THEN 'en'
        |       WHEN text LIKE '% le %' THEN 'fr'
        |       WHEN text LIKE '% der %' THEN 'de'
        |       WHEN text LIKE '% el %' THEN 'es'
        |       ELSE 'unk' END AS pred_lang,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
        |  ROUND(CAST(n_chars AS DOUBLE) / len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')), 4) AS chars_per_bpe_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_transform(generate_series(1, len(w)-2),
        |          i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS h
        |      FROM d WHERE len(w) >= 3)
        |SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(h))[1:8], ',') AS fp
        |FROM s ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, lang, n_chars, list_distinct(string_split(text,' ')) AS toks FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac
        |FROM d a JOIN d b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_incoming" ->
      """WITH tok AS (SELECT doc_id, lang, n_chars, source,
        |             list_sort(list_distinct(string_split(text, ' '))) AS t FROM documents),
        |inc AS (SELECT doc_id AS in_id, lang, n_chars, t FROM tok WHERE source = 'src0'),
        |corp AS (SELECT doc_id AS corp_id, lang AS c_lang, n_chars AS c_n_chars, t AS ct
        |         FROM tok WHERE source != 'src0'),
        |pairs AS (
        |  SELECT in_id, corp_id, 1.0 AS jac FROM inc JOIN corp ON t = ct
        |  UNION ALL
        |  SELECT in_id, corp_id,
        |    CAST(len(list_intersect(t, ct)) AS DOUBLE) / len(list_distinct(list_concat(t, ct))) AS jac
        |  FROM inc JOIN corp ON lang = c_lang AND n_chars = c_n_chars
        |  WHERE CAST(len(list_intersect(t, ct)) AS DOUBLE) / len(list_distinct(list_concat(t, ct))) >= 0.8),
        |m AS (SELECT in_id, corp_id, max(jac) AS jac FROM pairs GROUP BY in_id, corp_id),
        |agg AS (SELECT in_id, CAST(count(*) AS BIGINT) AS n_matches,
        |               ROUND(max(jac), 4) AS best_jac
        |        FROM m GROUP BY in_id)
        |SELECT i.in_id AS doc_id,
        |       COALESCE(a.n_matches, 0) AS n_matches,
        |       COALESCE(a.best_jac, 0.0) AS best_jac,
        |       COALESCE(a.n_matches, 0) > 0 AS is_dup
        |FROM inc i LEFT JOIN agg a USING (in_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars, list_distinct(string_split(text,' ')) AS toks FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM d a JOIN d b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
        |und AS (SELECT a_id AS u, b_id AS v FROM p UNION SELECT b_id, a_id FROM p),
        |reach(u, x) AS (
        |  SELECT u, u FROM und
        |  UNION
        |  SELECT e.u, r.x FROM und e JOIN reach r ON e.v = r.u
        |)
        |SELECT u AS doc_id, min(x) AS cluster_id FROM reach GROUP BY u ORDER BY doc_id""".stripMargin
  )
}
