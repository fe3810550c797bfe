package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFunctions.wordNgrams
import graft.functions.VectorFunctions._

/** §2c deduplication suite over the documents/embeddings tables.
  *
  * Scale design (SURVEY.md §6): every variant is
  * blocking/bucketing-first so the pairwise stage never goes n² —
  * LSH band buckets (minhash), chunk buckets (simhash), rare-gram
  * inverted index with a document-frequency cap (jaccard),
  * hyperplane sign buckets (embedding). The only shuffles are the
  * bucket-key joins; bucket keys are derived from content hashes,
  * never from low-cardinality data columns → skew-safe at 100 TB.
  */
object Dedup {

  /** Exact dedup: group identical content by md5, keep min doc_id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  /** Exact dedup after whitespace/case normalization. */
  def dedupExactNormalized(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))
        .cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  /** Word-3-gram ROWS per doc via the native codegen
    * [[graft.functions.WordNgramsExpr]] + explode — a pure MAP-SIDE
    * projection, zero shuffles. (History: round 1 used posexplode +
    * window lead, which shuffled every token row by doc_id just to
    * stitch neighbors back together; the higher-order-function array
    * form before that evaluated its lambdas interpreted, ~10× slower
    * at sf0.1. The native expression gets both: codegen AND no
    * shuffle.) */
  /** The distinct (id, word-n-gram xxhash64) table, eagerly
    * checkpointed — the shared first stage of every cross-corpus
    * gram-overlap operator (contamination matrix, novelty curve).
    * Hashes (8 bytes) shuffle, strings never do; the checkpoint
    * matters because these operators read the table through self-join
    * aliases and multiple aggregates, which defeat exchange reuse and
    * would re-run the corpus explode once per reader. */
  private[graft] def distinctGramHashes(df: DataFrame, idCol: String,
      n: Int = 8): DataFrame =
    df.select(col(idCol),
        explode(graft.functions.GraftExpressions.wordNgrams(col("text"), n))
          .as("g"))
      .select(col(idCol), xxhash64(col("g")).as("gk"))
      .distinct()
      .localCheckpoint(true)

  private[operators] def gramRows(spark: SparkSession, dir: String,
      lowercase: Boolean): DataFrame = {
    val txt = if (lowercase) lower(col("text")) else col("text")
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), expr("n_chars DIV 10").as("bucket"),
        explode(graft.functions.GraftExpressions.wordNgrams(txt, 3)).as("sh"))
  }

  /** Max document frequency for a gram to generate candidate pairs.
    * A gram shared by m docs yields m² join rows — stop-grams
    * ("the … of") make the uncapped self-join quadratic in corpus
    * size. Recall contract: a pair is found iff it shares ≥1 gram
    * with df ≤ this cap; pairs whose every shared gram is a
    * stop-gram are missed (verified acceptable on the test corpora —
    * near-dup pairs at jaccard ≥ 0.2 always share rare content
    * grams). */
  private[operators] val ngramDfCap = 32

  /** N-gram Jaccard near-dup pairs within (lang, length) blocks.
    * ONE shuffle of the gram relation does all the heavy lifting:
    * gram rows carry the doc's distinct-gram count `nsh` (computed
    * MAP-SIDE from the doc's own gram array — no per-doc shuffle),
    * and a single [[graft.functions.CappedSetAggExpr]] pass groups
    * each (block, gram) into its capped posting set, detecting HOT
    * grams (df > [[ngramDfCap]]) by buffer overflow in the same
    * aggregation — the count-first pass, the anti-join, and the
    * per-doc size aggregation of the round-3 design all collapse
    * into it. Rare grams explode their ≤ cap²/2 pairs map-side with
    * (n1, n2) already attached, so candidate scoring needs NO joins
    * back to a sizes relation. Hot completion is unchanged: |A∩B| =
    * rare∩ + hot∩, where hot∩ joins only the hot gram rows (a
    * vocabulary-bounded set → broadcast) restricted to candidate
    * pairs — at 100 TB the verify traffic is candidates ×
    * hot-grams-per-doc, a small constant, not candidates ×
    * grams-per-doc. |A∪B| = |A|+|B|−|A∩B|. Join keys stay
    * high-cardinality → skew-safe at 100 TB. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir).orderBy("d1", "d2")

  /** The jaccard pair engine without the presentation sort —
    * [[dedupClusterCC]] consumes the pairs as edges, where ordering
    * (and duplicate-edge hygiene) is irrelevant. */
  private[operators] def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // raw gram rows are map-side only (native WordNgramsExpr; nsh
    // rides every row from the same scan) and deliberately NOT
    // persisted: caching 50× the doc bytes costs more than the one
    // recompute the (rare) hot path would need. Each (block, gram)
    // is keyed by its 64-bit xxhash64 — an 8-byte shuffle/groupBy
    // key instead of the gram string, which is what actually moves
    // through the one big exchange. (A 64-bit collision would merge
    // two posting lists; the probability is n²/2^65 — vanishing at
    // test SF, and at 100 TB a handful of merged lists perturbs
    // candidate GENERATION only, within the df-cap recall contract
    // the operator already declares.) The capped posting agg dedups
    // internally, so no global distinct exchange exists.
    val g = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), expr("n_chars DIV 10").as("bucket"),
        graft.functions.GraftExpressions.wordNgrams(col("text"), 3).as("arr"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        size(array_distinct(col("arr"))).cast("long").as("nsh"),
        explode(col("arr")).as("sh"))
      .select(col("doc_id"), col("nsh"),
        xxhash64(col("lang"), col("bucket"), col("sh")).as("gk"))
    // The posting relation is registered in [[GraftCaches]]: built +
    // fully materialized ONCE per (dir) and shared intentionally with
    // [[dedupClusterCC]] in the same session; releaseAll() unpersists
    // it deterministically.
    val posts = GraftCaches.getOrBuild(spark, s"dedup:jaccard-posts:$dir") {
      // ObjectHashAggregate (the physical home of every imperative
      // agg, CappedSetAgg included) falls back to SORT-based
      // aggregation at 128 distinct keys per task by default — a
      // posting build has millions of gram keys per task and each
      // buffer is ≤ cap tiny entries, so the hash map is the right
      // regime by a huge margin. Scoped to THIS build: count() below
      // forces EVERY partition into the cache while the raised
      // threshold is in effect (a limit(1) action could early-
      // terminate with only some partitions cached, leaving the rest
      // to build later under the restored low threshold).
      val thresholdKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
      val priorThreshold = spark.conf.getOption(thresholdKey)
      spark.conf.set(thresholdKey, "1048576")
      val p = g.groupBy("gk")
        .agg(graft.functions.CappedSetAgg(col("doc_id"), col("nsh"), ngramDfCap).as("p"))
        .persist()
      try p.count()
      finally priorThreshold match {
        case Some(v) => spark.conf.set(thresholdKey, v)
        case None => spark.conf.unset(thresholdKey)
      }
      p
    }
    val candRare = posts
      .filter(!col("p.hot") && size(col("p.ds")) >= 2)
      .select(col("p.ds").as("ds"), explode(col("p.ds")).as("a"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("d1"), col("b.id").as("d2"),
        col("a.nsh").as("n1"), col("b.nsh").as("n2"))
      .agg(count(lit(1)).as("rare_inter"))
    // hot gram KEYS are bounded by vocabulary, not corpus size →
    // broadcast; their members were dropped by the capped buffer and
    // are re-derived from g, exactly like the count-first form did.
    // The whole hot-completion subtree is skipped when the corpus has
    // no hot gram at all (one cheap scan of the cached posts decides
    // — the common case for natural-text corpora, where near-dup
    // pairs share rare grams long before they share stop-grams).
    val hasHot = posts.filter(col("p.hot")).limit(1).count() > 0
    val scored = if (!hasHot) {
      candRare.withColumn("inter", col("rare_inter"))
    } else {
      val hot = posts.filter(col("p.hot")).select("gk")
      // hot-gram rows joined only against candidate pairs; occurrence
      // duplicates are absorbed by the countDistinct below
      val gh = g.join(broadcast(hot), Seq("gk")).select(col("gk"), col("doc_id"))
      val interHot = candRare.select("d1", "d2")
        .join(gh.select(col("doc_id").as("d1"), col("gk")), "d1")
        .join(gh.select(col("doc_id").as("d2"), col("gk")), Seq("d2", "gk"))
        .groupBy("d1", "d2").agg(countDistinct("gk").as("hot_inter"))
      candRare.join(interHot, Seq("d1", "d2"), "left")
        .withColumn("inter", col("rare_inter") + coalesce(col("hot_inter"), lit(0L)))
    }
    // Returned LAZILY on purpose: the scored plan composes into the
    // caller's query fully inside AQE (runtime broadcast conversion +
    // partition coalescing on the candidate joins — an eager
    // localCheckpoint here executed the subtree WITHOUT AQE and cost
    // 1.8× at sf0.1, 7× on a 10× corpus). The posting cache releases
    // via GraftCaches.releaseAll(), not at operator exit.
    scored
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= 0.2)
      .select("d1", "d2", "jaccard")
  }

  /** MinHash + LSH near-dup detection (shingle → minhash → band →
    * bucket-join → Jaccard verify). Per-doc output: its candidate
    * count and best verified match (never empty — the pair list is a
    * filter on dup_of). b=16 bands × r=4 rows; only (doc_id) ints
    * flow through the bucket join, shingle sets are joined back for
    * the verify stage alone. */
  /** Distinct HASHED 3-word shingles of an arbitrary (doc_id, text)
    * relation — grams hash to 8-byte keys BEFORE the distinct: the
    * signature aggregate, the distinct, and the verify joins all
    * shuffle longs instead of gram strings (~5× fewer shuffle bytes —
    * the verify stage dominated the 10× corpus run). A 64-bit
    * collision merges two grams; probability ~g²/2^65 per doc — the
    * same accepted contract as [[jaccardPairs]]' hashed keys. Shared
    * by the batch LSH operator and the streaming index form
    * ([[Streams.streamExecDedupIndex]]), which must band its arrivals
    * with the EXACT machinery the index was built with. */
  private[graft] def gramHashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.GraftExpressions.wordNgrams(
          lower(col("text")), 3)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("sh")).distinct()

  /** The 16×4 banded MinHash keys over hashed gram rows: 64-seed
    * signature (MinHashAgg), 16 band keys of 4 chained xxhash64
    * values — (doc_id, band, bkey), the LSH bucket relation. */
  private[graft] def bandedMinhash(gd: DataFrame,
      bands: Int = 16, r: Int = 4): DataFrame =
    gd.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg(col("sh"), bands * r).as("sig"))
      .select(col("doc_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64((0 until r).map(i =>
              element_at(col("sig"), b * r + i + 1)): _*).as("bkey"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val gd = GraftCaches.getOrBuild(spark, s"dedup:minhash-grams:$dir") {
      val d = gramHashRows(t(spark, dir, "documents")).persist()
      d.count()
      d
    }
    val sizes = gd.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val banded = bandedMinhash(gd)
    val candIds = banded.select(col("doc_id").as("d1"), col("band"), col("bkey"))
      .join(banded.select(col("doc_id").as("d2"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    // verify via inverted index restricted to the candidate pairs —
    // |A∩B| counted with joins, no shingle arrays materialized
    val inter = candIds.join(gd.select(col("doc_id").as("d1"), col("sh")), "d1")
      .join(gd.select(col("doc_id").as("d2"), col("sh")), Seq("d2", "sh"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    val cand = candIds.join(inter, Seq("d1", "d2"), "left")
      .join(sizes.select(col("doc_id").as("d1"), col("nsh").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("nsh").as("n2")), "d2")
      .withColumn("interc", coalesce(col("inter"), lit(0L)))
      .withColumn("jaccard", col("interc") / (col("n1") + col("n2") - col("interc")))
    val perDoc = cand
      .select(explode(array(
        struct(col("d1").as("doc_id"), col("jaccard")),
        struct(col("d2").as("doc_id"), col("jaccard")))).as("x"))
      .select(col("x.doc_id"), col("x.jaccard"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"), max("jaccard").as("best_jaccard"))
    // Lazy on purpose — see the AQE note in [[jaccardPairs]]; gd
    // releases via GraftCaches.releaseAll().
    sizes.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(round(col("best_jaccard"), 6), lit(0.0)).as("best_jaccard"),
        (coalesce(col("best_jaccard"), lit(0.0)) >= 0.2).as("is_near_dup"))
      .orderBy("doc_id")
  }

  /** 64-bit SimHash per doc via the native [[graft.functions.SimHash64Expr]]
    * — a pure map-side projection: no explode, no 64-way aggregation,
    * no shuffle (see SimHashEquivalenceSpec for bit-equality with the
    * explode+majority-vote formulation). */
  private[operators] def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.GraftExpressions.simhash64(
          split(lower(col("text")), " ")).as("simhash"))

  /** The explode + 64-column majority-vote formulation (kept for
    * cross-checking the native expression in specs). */
  private[operators] def simhashDocsExploded(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val sumCols = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val sums = toks.groupBy("doc_id").agg(sumCols.head, sumCols.tail: _*)
    val simhash = (0 until 64).map { b =>
      shiftleft(when(col(s"s$b") > 0, 1L).otherwise(0L), b)
    }.reduce(_ bitwiseOR _)
    sums.select(col("doc_id"), simhash.as("simhash"))
  }

  /** Manku-style multi-table blocking for the hamming-≤3 simhash
    * candidate join (Manku, Jain & Das Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW 2007 — the public
    * permuted-prefix design, expressed as block-combination join
    * keys): the 64 bits split into `nBlocks` near-equal contiguous
    * blocks; one TABLE per (nBlocks−3)-subset of blocks, keyed on
    * those blocks' bits concatenated. A pair within hamming ≤ 3
    * dirties at most 3 blocks, so at least one subset is entirely
    * clean and the pair shares that table's key EXACTLY — recall is
    * structural (pigeonhole), not probabilistic, at every nBlocks.
    * More blocks ⇒ wider keys ⇒ exponentially fewer random
    * collisions, paid for with C(nBlocks,3) explode rows per doc.
    * nBlocks=4 reproduces the original fixed 4×16-bit chunk layout
    * bit-for-bit (each table is a single block). */
  private[graft] final case class SimhashBlocking(nBlocks: Int) {
    require(nBlocks >= 4 && nBlocks <= 8, s"nBlocks=$nBlocks out of [4,8]")
    /** Near-equal contiguous block widths summing to 64 (the first
      * 64 % nBlocks blocks take the extra bit). */
    val sizes: Vector[Int] = {
      val base = 64 / nBlocks; val rem = 64 % nBlocks
      Vector.tabulate(nBlocks)(i => if (i < rem) base + 1 else base)
    }
    /** Bit offset of each block inside the simhash (block 0 at the
      * LOW bits, matching the legacy chunk layout). */
    val offsets: Vector[Int] = sizes.scanLeft(0)(_ + _).init
    /** One table per (nBlocks−3)-subset of block indices, in
      * lexicographic order; the subset's blocks form the join key. */
    val tables: Vector[Vector[Int]] =
      (0 until nBlocks).combinations(nBlocks - 3).map(_.toVector).toVector
    /** Narrowest table key, in bits — the collision bound: expected
      * random-collision candidates ≈ tables.size · n² / 2^minKeyBits. */
    val minKeyBits: Int = sizes.sorted.take(nBlocks - 3).sum
    /** The table key as integer Column arithmetic (deterministic). */
    def keyCol(simhash: Column, table: Vector[Int]): Column =
      table.foldLeft(lit(0L): Column) { (acc, b) =>
        shiftleft(acc, sizes(b)).bitwiseOR(
          shiftright(simhash, offsets(b)).bitwiseAND(lit((1L << sizes(b)) - 1)))
      }
    /** The same key on a plain Long (spec cross-check, no Spark). */
    def keyOf(simhash: Long, table: Vector[Int]): Long =
      table.foldLeft(0L) { (acc, b) =>
        (acc << sizes(b)) | ((simhash >>> offsets(b)) & ((1L << sizes(b)) - 1))
      }
  }

  private[graft] object SimhashBlocking {
    /** Smallest block count whose narrowest key width w keeps
      * expected random-collision candidate pairs ≈ T·n²/2^w at or
      * under n — LINEAR in the corpus, the [[cosinePlanesFor]]
      * contract (2^w ≥ T·n, integer bit-length arithmetic only, no
      * float log2 rounding). 4 blocks (16-bit keys, the legacy
      * layout) serve to ~8k docs, 5 (25-bit) to ~2M, 6 (31-bit) to
      * ~64M, 7 (36-bit) to ~10^9, 8 (40-bit) beyond 2^34. */
    def forCorpus(nDocs: Long): SimhashBlocking = {
      def bitLen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, x))
      (4 to 8).map(SimhashBlocking(_))
        .find(b => b.minKeyBits >= bitLen(nDocs) + bitLen(b.tables.size))
        .getOrElse(SimhashBlocking(8))
    }
  }

  /** Candidate pairs (d1 < d2, with hamming) from the blocked
    * self-join at a given [[SimhashBlocking]]. */
  private[operators] def simhashCandidatePairs(docs: DataFrame,
      blocking: SimhashBlocking): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("simhash"),
      explode(array(blocking.tables.zipWithIndex.map { case (tbl, tid) =>
        struct(lit(tid).as("tbl"), blocking.keyCol(col("simhash"), tbl).as("bkey"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.tbl"), col("cc.bkey"))
    val a = keyed.select(col("doc_id").as("d1"), col("simhash").as("h1"),
      col("tbl"), col("bkey"))
    val b = keyed.select(col("doc_id").as("d2"), col("simhash").as("h2"),
      col("tbl"), col("bkey"))
    a.join(b, Seq("tbl", "bkey"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .distinct()
  }

  /** SimHash near-dup via the adaptive [[SimhashBlocking]] tables:
    * hamming ≤ 3 pairs are guaranteed to share a table key at every
    * block count, and the key width tracks corpus size so candidate
    * volume stays linear in n (the round-5 fixed 4×16-bit layout
    * capped each table at 2^16 buckets — quadratic at 10^9 docs).
    * Verify is bit_count(xor). Per-doc output: simhash +
    * nearest-candidate hamming. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = GraftCaches.getOrBuild(spark, s"dedup:simhash-docs:$dir") {
      val d = simhashDocs(spark, dir).persist()
      d.count()
      d
    }
    dedupSimhashAt(docs, SimhashBlocking.forCorpus(docs.count()))
  }

  /** (nDocs, nBlocks chosen, candidate-pair count) — the scale
    * evidence probe: candidate volume should track n, not n², as the
    * corpus grows and the blocking adapts (ScaleBench prints this at
    * 1× and 10×). */
  private[graft] def simhashCandidateStats(spark: SparkSession,
      dir: String): (Long, Int, Long) = {
    val docs = GraftCaches.getOrBuild(spark, s"dedup:simhash-docs:$dir") {
      val d = simhashDocs(spark, dir).persist()
      d.count()
      d
    }
    val n = docs.count()
    val blocking = SimhashBlocking.forCorpus(n)
    (n, blocking.nBlocks, simhashCandidatePairs(docs, blocking).count())
  }

  private[operators] def dedupSimhashAt(docs: DataFrame,
      blocking: SimhashBlocking): DataFrame = {
    val cand = simhashCandidatePairs(docs, blocking)
    val perDoc = cand
      .select(explode(array(
        struct(col("d1").as("doc_id"), col("hamming")),
        struct(col("d2").as("doc_id"), col("hamming")))).as("x"))
      .select(col("x.doc_id"), col("x.hamming"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"), min("hamming").as("min_hamming"))
    // Lazy on purpose — see the AQE note in [[jaccardPairs]]; docs
    // releases via GraftCaches.releaseAll().
    docs.select("doc_id", "simhash")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("min_hamming"), lit(64L)).as("min_hamming"),
        (coalesce(col("min_hamming"), lit(64L)) <= 3).as("is_near_dup"))
      .orderBy("doc_id")
  }

  /** nPlanes for the embedding-dedup sign buckets, derived from the
    * corpus size with INTEGER arithmetic (bit-length, not a float
    * log2 whose boundary rounding could differ across engines):
    * bucket count ≈ n/16 tracks the corpus, so expected per-bucket
    * occupancy — and therefore candidate-pair volume per bucket —
    * stays constant as n grows instead of going n²/2^k at a fixed k.
    * Floor 8 keeps small corpora at the round-3 behavior; cap 24
    * bounds the probe fan-out (and keeps bucket ids comfortably in
    * an int). The same formula is expressed in the oracle SQL as
    * GREATEST(8, LEAST(24, length(bin(count(*))) - 4)). */
  private[graft] def cosinePlanesFor(nVectors: Long): Int =
    math.max(8, math.min(24, java.lang.Long.toBinaryString(math.max(1L, nVectors)).length - 4))

  /** Embedding-cosine near-dup pairs, blocked on arithmetic-
    * hyperplane LSH sign buckets (the [[Similarity.signBucket]]
    * machinery): candidates are pairs whose sign buckets differ by
    * ≤1 bit, verified with the exact left-fold cosine. Blocking on a
    * hash of the vector itself keeps the join key high-cardinality
    * and data-independent — label blocks are few and skewed (n²/k
    * pairs per label). nPlanes is [[cosinePlanesFor]] of the corpus
    * count (one scalar to the driver), so bucket count tracks corpus
    * size. Each unordered pair is generated ONCE: a vector probes
    * its own bucket (equal-bucket pairs, deduped by vec_id order)
    * plus only the UP-flips of its zero bits — a hamming-1 pair is
    * found solely from its lower-bucket side, so the explode is
    * 1 + zeros(bucket) ≈ nPlanes/2 rows per vector instead of
    * nPlanes + 1, with no duplicate candidates to re-filter. Norms
    * are precomputed once per vector (same sqrt(dot(v,v)) fold as
    * the oracle → bit-identical cosine). UNORDERED — the CC consumer
    * checkpoints these edges and the oracle query adds the output
    * sort; sorting here would cost the CC path a full exchange+sort
    * of the edge set it immediately discards. */
  private[graft] def embeddingCosineEdges(spark: SparkSession,
      dir: String): DataFrame =
    // Round 15: FOUR queries consume this relation (embedding cosine,
    // embedding CC, threshold sweep, pagerank) and each re-ran the
    // full blocked candidate join + exact-cosine verify. Share one
    // session-lifetime build through GraftCaches — the same
    // discipline as the gram/posting caches (built inside the first
    // timed consumer, released by releaseAll). The cached relation is
    // ~|near-dup pairs| (τ ≥ 0.3 floor bounds it), orders of
    // magnitude below the corpus — the memory story is unchanged.
    GraftCaches.getOrBuild(spark, s"dedup:cosine-edges:$dir") {
      val e = embeddingCosineEdgesUncached(spark, dir).persist()
      e.count()
      e
    }

  private def embeddingCosineEdgesUncached(spark: SparkSession,
      dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val nPlanes = cosinePlanesFor(base.count())
    val e = base
      .withColumn("n", l2Norm(col("v")))
      .withColumn("bucket", Similarity.signBucket(col("v"), nPlanes))
    val a = e.select(col("vec_id").as("ida"), col("v").as("va"),
      col("n").as("na"), col("bucket"))
    val flips = array((0 until nPlanes).map(j =>
      col("b2").bitwiseXOR(1 << j)): _*)
    val b = e.select(col("vec_id").as("idb"), col("v").as("vb"), col("n").as("nb"),
        col("bucket").as("b2"))
      .withColumn("pb", explode(concat(array(col("b2")),
        filter(flips, f => f > col("b2")))))
    // self-probe (pb == b2) pairs dedup on vec_id order; an up-flip
    // probe always lands in a strictly greater bucket, so each
    // hamming-1 pair matches exactly once with no id constraint
    a.join(b, col("bucket") === col("pb") &&
        (col("b2") =!= col("bucket") || col("ida") < col("idb")))
      .withColumn("cos_sim", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.3)
      .select(least(col("ida"), col("idb")).as("v1"),
        greatest(col("ida"), col("idb")).as("v2"), col("cos_sim"))
  }

  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    embeddingCosineEdges(spark, dir).orderBy("v1", "v2")

  /** Benchmark decontamination: flag training documents sharing any
    * word-5-gram with the eval set (docs with doc_id % 97 == 0 stand
    * in for a held-out benchmark). The eval side of the join is
    * BROADCAST — eval suites are fixed-size (thousands of docs), so
    * at 100 TB the contamination check stays a map-side hash probe
    * over the training corpus: no shuffle of the big side, ever.
    * Gram generation is the same map-side [[gramRows]] machinery
    * (native WordNgramsExpr, no posexplode+window). */
  def decontaminateNgram(spark: SparkSession, dir: String): DataFrame = {
    // train-side gram rows are NOT globally distinct'd — the final
    // countDistinct agg dedups, and a global distinct would shuffle
    // the whole training corpus's grams (the one thing this plan
    // must never do). Only the tiny eval side dedups pre-broadcast.
    val grams = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.GraftExpressions.wordNgrams(col("text"), 5)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0).distinct()
      .select(col("doc_id").as("eval_id"), col("g"))
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id")
      .agg(countDistinct("g").as("n_shared_grams"),
        countDistinct("eval_id").as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** Benchmark CONTAINMENT — the "quoted wholesale" signal
    * [[decontaminateNgram]]'s per-train aggregate can't state: for
    * each EVAL document, the largest fraction of its word-5-grams
    * found inside any SINGLE training document (asymmetric by
    * design — a short benchmark question embedded verbatim in a long
    * page scores 1.0 where symmetric Jaccard reads noise). The
    * decision metric eval-set audits act on: containment ≥ τ means
    * the eval item leaks even if the page around it is unrelated.
    *
    * Scale shape: the [[decontaminateNgram]] physics — the eval gram
    * set BROADCASTS (eval suites are fixed-size), the training corpus
    * streams map-side through the hash probe and never shuffles raw;
    * the (train, eval) pair aggregate is bounded by TRUE overlap
    * volume; the per-eval argmax rides a WindowGroupLimit-planned
    * rank over that bounded pair table.
    *
    * Determinism: integer gram counts through one exact division;
    * the (containment desc, train_id asc) order is total. */
  def decontaminateContainment(spark: SparkSession, dir: String): DataFrame = {
    val grams = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.GraftExpressions.wordNgrams(col("text"), 5)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0).distinct()
      .select(col("doc_id").as("eval_id"), col("g"))
    val evalSize = evalGrams.groupBy("eval_id")
      .agg(count(lit(1)).as("n_eval_grams"))
    val w = Window.partitionBy("eval_id")
      .orderBy(col("containment").desc, col("train_id").asc)
    grams.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("train_id"), col("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy("train_id", "eval_id")
      .agg(countDistinct("g").as("n_shared"))
      .join(broadcast(evalSize), "eval_id")
      .withColumn("containment",
        round(col("n_shared").cast("double") /
          col("n_eval_grams").cast("double"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("eval_id"), col("train_id").as("best_train_id"),
        col("n_shared"), col("n_eval_grams"), col("containment"))
      .orderBy("eval_id")
  }

  /** Benchmark decontamination in EMBEDDING space — the semantic
    * companion to [[decontaminateNgram]]: a training vector is
    * contaminated when it sits too close (cosine ≥ 0.3) to any
    * held-out eval vector (vec_id % 97 == 0 stands in for the eval
    * suite, the ngram op's convention). The n-gram screen catches
    * verbatim leakage; this catches paraphrase-level leakage the
    * lexical check can't see — the pairing published eval-hygiene
    * audits run.
    *
    * Scale shape: the WHOLE eval set rides as one broadcast array
    * row (eval suites are fixed-size — thousands of vectors, a few
    * MB), so scoring is entirely MAP-SIDE: each train row scores the
    * array with native collection functions (`transform` computes
    * the |eval| cosines, `array_max` takes the (sim, -eval_id)
    * struct max — ties on the max resolve to the SMALLEST eval id
    * lexicographically — `filter`+`size` counts the close band),
    * and no aggregation, window, or join-explosion exists anywhere:
    * the one exchange in the plan is the terminal presentation sort.
    * At eval sets too big to broadcast, the [[Similarity]] IVF/PQ
    * index is the intended prefilter; this operator is the exact
    * audit path. Cosine rounds to 6 before every comparison (the
    * engines' fold-vs-list_dot_product products are bit-identical —
    * §13.2). */
  def decontaminateEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("n", l2Norm(col("v")))
    val evalArr = e.filter(col("vec_id") % 97 === 0)
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("eval_id"), col("v").as("ev"), col("n").as("en"))))
        .as("evals"))
    val scored = transform(col("evals"), ev =>
      struct(round(dot(col("v"), ev("ev")) / (col("n") * ev("en")), 6).as("sim"),
        (-ev("eval_id")).as("neg_id")))
    // scored binds ONCE per row: a twice-referenced non-cheap alias
    // is exactly what CollapseProject declines to inline, so the
    // |eval| cosines are computed once, not once per consumer
    e.filter(col("vec_id") % 97 =!= 0)
      .crossJoin(broadcast(evalArr))
      .withColumn("scored", scored)
      .withColumn("m", array_max(col("scored")))
      .withColumn("n_close",
        size(filter(col("scored"), x => x("sim") >= 0.2)).cast("long"))
      .select(col("vec_id"),
        col("m.sim").as("max_eval_sim"),
        (-col("m.neg_id")).as("closest_eval_id"),
        col("n_close"),
        (col("m.sim") >= 0.3).cast("int").as("contaminated"))
      .orderBy("vec_id")
  }

  /** Frequent-span detection — the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" substring-dedup
    * signal re-expressed Spark-first: the suffix-array pass over the
    * concatenated corpus becomes overlapping word-8-gram spans. A
    * span is HOT when ≥ 2 DISTINCT docs contain it; each doc reports
    * its span volume, hot-span volume (multiplicity kept — a doc
    * repeating a shared span counts each occurrence), the hot
    * fraction, and the keep verdict (≤ half the doc duplicated
    * elsewhere).
    *
    * Scale shape: spans cross every shuffle as 8-byte xxhash64 keys,
    * never strings (the minhash lesson — ~10× fewer shuffle bytes);
    * document frequency is a distinct + count agg with map-side
    * combine; the hot-key set joins back to the span stream by
    * shuffle, NOT broadcast (at 100 TB the hot set is corpus-sized);
    * one final doc agg. Work is linear in span volume — no pairwise
    * stage exists to go quadratic. */
  def dedupSpanExact(spark: SparkSession, dir: String): DataFrame = {
    val spans = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.GraftExpressions.wordNgrams(col("text"), 8)).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("sk"))
    val hot = spans.distinct()
      .groupBy("sk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val frac = col("n_hot_spans").cast("double") / col("n_spans")
    spans.join(hot, Seq("sk"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(col("df")).as("n_hot_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_hot_spans"),
        round(frac, 6).as("hot_span_frac"),
        (round(frac, 6) <= 0.5).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster assignment: connected components over the
    * union of exact-normalized duplicate pairs and n-gram-Jaccard
    * near-dup pairs; every clustered doc gets comp = min doc_id in
    * its component (the canonical keeper).
    *
    * Distributed hash-min label propagation, tuned so the loop costs
    * one job and ONE exchange per round:
    *  - the label/edge frames hold only docs that appear in some dup
    *    pair, so their shuffles are sized to the EDGE count (learned
    *    from the one scalar the driver already needs), not the
    *    session default — at test SF each round is a couple of
    *    tasks, on a cluster it scales back up with the edge volume;
    *  - sym is pre-partitioned by join key and labels come out of
    *    each round partitioned compatibly, so the per-round join
    *    re-shuffles nothing and the single repartition before the
    *    min-agg is the round's only exchange;
    *  - convergence is read off the SAME action that materializes
    *    the round (labels are min-propagated, so their exact decimal
    *    sum is strictly decreasing until the fixpoint) — no separate
    *    changed-count job, no extra pass over the labels.
    * Converges in O(component diameter) rounds — dup clusters are
    * near-cliques, so a handful of rounds at any scale. The corpus
    * itself is never re-read; the driver sees one scalar per round. */
  /** Hash-min label propagation over an undirected edge list
    * (columns d1, d2): returns (id, comp) where comp = min node id in
    * the component. The loop machinery shared by [[dedupClusterCC]]
    * and [[dedupEmbeddingCC]] — one job and ONE exchange per round,
    * shuffles sized to the edge volume, convergence read off the
    * exact decimal label sum of the same action that materializes the
    * round (labels only ever decrease, so an unchanged sum IS the
    * fixpoint). Duplicate edges are harmless (min absorbs them). */
  private[operators] def hashMinComponents(spark: SparkSession,
      edgesIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // EAGER localCheckpoint, not persist: the edge derivation can be
    // an arbitrarily large plan (the cosine pipeline inlines nPlanes
    // 64-wide hyperplane literals), and every loop round would embed
    // another copy of that lineage into its own plan — checkpointing
    // truncates it to an RDD scan so round plans stay O(1)
    val edges = edgesIn.localCheckpoint(true)
    val nEdges = edges.count() // one scalar over the checkpointed blocks
    if (nEdges == 0) // no dup pairs at all → no clustered nodes
      return spark.range(0).select(col("id"), col("id").as("comp"))
    val nParts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      (nEdges / 200000L + 1).toInt))
    val sym = edges.select(explode(array(
        struct(col("d1"), col("d2")),
        struct(col("d2").as("d1"), col("d1").as("d2")))).as("e"))
      .select(col("e.d1"), col("e.d2"))
      .repartition(nParts, col("d2"))
      .persist()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast(DecimalType(38, 0)))).head.getDecimal(0)
    var labels = sym.select(col("d1").as("id"))
      .repartition(nParts, col("id")).distinct()
      .withColumn("comp", col("id")).persist()
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // neighbor-min propagation (self term rides the union) ...
      val m = sym.join(labels.select(col("id").as("d2"), col("comp")), "d2")
        .select(col("d1").as("id"), col("comp"))
        .union(labels)
        .repartition(nParts, col("id"))
        .groupBy("id").agg(min("comp").as("comp"))
        .persist()
      // ... then POINTER JUMPING: follow my label's own label. Labels
      // only ever decrease toward the component min, so the shortcut
      // is always valid — and it turns O(component diameter) rounds
      // into O(log diameter), which is what saves long-chain graphs
      // (near-threshold similarity edges form chains, not cliques).
      // Each round ends in an EAGER localCheckpoint, not a persist:
      // the jump join references m twice, so an un-truncated round
      // plan would DOUBLE per iteration — exponential treeStrings by
      // round ~30 even though the runtime DAG is shared.
      val next = m
        .join(m.select(col("id").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("comp2"), col("comp")).as("comp"))
        .repartition(nParts, col("id"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      m.unpersist()
      labels.unpersist()
      labels = next
      rounds += 1
    }
    // localCheckpoint (eager) materializes the converged labels and
    // cuts the loop's lineage so the loop caches can be released here
    // instead of leaking one cached label set per invocation
    val out = labels.localCheckpoint(true).select("id", "comp")
    labels.unpersist()
    sym.unpersist()
    edges.unpersist() // checkpoint blocks also retire via ContextCleaner
    out
  }

  def dedupClusterCC(spark: SparkSession, dir: String): DataFrame = {
    // exact-dup edges in STAR topology (group keeper → member):
    // connectivity — and therefore the component labeling the oracle
    // checks — is identical to the all-pairs form, but a size-m dup
    // group contributes m−1 edges instead of m(m−1)/2, the expensive
    // regex+md5 normalization runs ONCE per doc (the self-join form
    // re-evaluated it per join side), and stars keep component
    // diameter at 2 so the label loop converges in fewer rounds.
    val w = Window.partitionBy("h")
    val exactPairs = t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))
          .cast("binary")).as("h"))
      .withColumn("keeper", min("doc_id").over(w))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("keeper").as("d1"), col("doc_id").as("d2"))
    // duplicate edges are harmless to min-label propagation (the
    // min-agg absorbs them), so no distinct exchange and no ordering
    val nearPairs = jaccardPairs(spark, dir).select("d1", "d2")
    hashMinComponents(spark, exactPairs.union(nearPairs))
      .select(col("id").as("doc_id"), col("comp")).orderBy("doc_id")
  }

  /** SEMANTIC duplicate clusters: connected components over the
    * embedding-cosine near-dup pairs (τ = 0.3, the
    * [[dedupEmbeddingCosine]] candidate machinery) — the
    * embedding-space counterpart of [[dedupClusterCC]]'s lexical
    * clusters, and the grouping step of semantic dedup: every
    * clustered vector gets comp = min vec_id (the canonical
    * representative to keep). Same [[hashMinComponents]] loop, so
    * the scale story is inherited: only label rows iterate; the
    * LSH-blocked pair generation is the one pass over the corpus. */
  def dedupEmbeddingCC(spark: SparkSession, dir: String): DataFrame =
    hashMinComponents(spark,
      embeddingCosineEdges(spark, dir).select(col("v1").as("d1"), col("v2").as("d2")))
      .select(col("id").as("vec_id"), col("comp")).orderBy("vec_id")

  /** Threshold CALIBRATION SWEEP — the duplicate-rate-vs-threshold
    * curve a curator reads BEFORE committing to a cosine cutoff (pick
    * τ where the curve elbows; Lee et al. / SemDeDup both calibrate
    * this way): for each candidate threshold, how many near-dup pairs
    * survive, how many distinct vectors they touch, and what fraction
    * of the corpus that is.
    *
    * Scale shape: the LSH-blocked [[embeddingCosineEdges]] generation
    * runs ONCE (the corpus's one pass — τ floor 0.3 bounds the edge
    * set); the sweep then explodes each edge into |thresholds| = 8
    * constant-bounded rows, and the distinct-vector count is a
    * two-phase aggregate keyed (threshold, vec) — reduce side bounded
    * by 8 × flagged vectors, never corpus-squared. The corpus total
    * rides in as a broadcast 1-row aggregate. No global sort; the
    * 8-row output sorts for free.
    *
    * Determinism: thresholds compare against the 1e-6-rounded cosine
    * as double literals spelled identically in the oracle; pair and
    * vector counts are integers; dup_rate is one exact division. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val ths = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 0.95)
    val total = t(spark, dir, "embeddings")
      .agg(count(lit(1)).as("n_total"))
    embeddingCosineEdges(spark, dir)
      .select(col("cos_sim"), col("v1"), col("v2"),
        explode(array(ths.map(lit): _*)).as("threshold"))
      .filter(col("cos_sim") >= col("threshold"))
      .select(col("threshold"), explode(array(col("v1"), col("v2"))).as("vid"))
      .groupBy("threshold")
      .agg(expr("count(1) DIV 2").as("n_pairs"),
        countDistinct(col("vid")).as("n_flagged"))
      .crossJoin(broadcast(total))
      .select(col("threshold"), col("n_pairs"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_total").cast("double"), 6)
          .as("dup_rate"))
      .orderBy("threshold")
  }

  /** INCREMENTAL-ingest exact dedup — the two-tier shape a live
    * pipeline runs when a NEW shard arrives against an already-
    * deduplicated corpus: tier 1 is a bloom filter over the existing
    * digests (one small sketch broadcast to the shard's mappers —
    * incoming rows that can't match never reach the join); tier 2
    * exact-verifies only the bloom survivors with a digest join.
    * Bloom filters have NO false negatives, so the OUTPUT is exact —
    * the sketch is purely a plan-side shuffle reducer, invisible to
    * the oracle (which computes the same verdicts by direct digest
    * join). At 100 TB the sketch (sized to the existing-corpus
    * cardinality) replaces shuffling the whole shard into the join:
    * only the ~dup-rate fraction of incoming rows crosses.
    * Split rule doc_id % 10 (deterministic in both engines). */
  def dedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    // the (doc, digest) table is read FOUR ways (bloom build, exact
    // side, filter side, final join) — checkpoint once so the parquet
    // scan + md5 run once, not four times (the multi-reader lesson)
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      .localCheckpoint(true)
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val bloomBytes = existing.agg(ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          XxHash64(Seq(ColumnBridge.expression(col("digest"))), 42L),
          Literal(100000L), Literal(8L * 100000L * 8L), 0, 0)
          .toAggregateExpression()).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val candidates = incoming.filter(ColumnBridge.column(
      BloomFilterMightContain(Literal(bloomBytes, BinaryType),
        XxHash64(Seq(ColumnBridge.expression(col("digest"))), 42L))))
    val dups = candidates
      .join(existing.select("digest").distinct(), Seq("digest"), "left_semi")
      .select(col("doc_id"), lit(1).as("flag"))
    incoming.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("digest"),
        coalesce(col("flag"), lit(0)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Survivor selection by QUALITY (round 11) — the curation-realistic
    * dedup policy: within each exact-normalized content group the
    * keeper is the LONGEST original text (it kept the most
    * formatting/context), ties to the smallest doc_id — not min-id,
    * which picks whatever crawl happened to land first. One
    * map-combined aggregate: the argmax rides a (len, −doc_id) struct
    * max, so the shuffle carries one struct per (partition, group) —
    * never the texts. Exact integers end to end. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))
          .cast("binary")).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"),
        max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("content_hash"), col("m.len").as("keeper_len"),
        (-col("m.nid")).as("keeper"), col("n_copies"))
      .orderBy("keeper")

  /** PREFIX-fingerprint dedup (round 12) — the truncation-duplicate
    * detector: web-scale crawls re-collect the same page cut at
    * different lengths, so EXACT hashing misses them while the first
    * k tokens still agree. Fingerprint = the first 6 whitespace
    * tokens verbatim; groups of ≥ 2 docs are truncation-duplicate
    * candidates, keeper = the LONGEST text (it kept the most tail),
    * ties to smallest doc_id — the dedup_keep_best survivorship
    * policy on a prefix key. One map-side projection + one hash
    * aggregate; only (fingerprint, len, id) triples shuffle, never
    * texts. At 100 TB the fingerprint is content-derived and
    * high-cardinality → skew-safe like every other dedup key here. */
  def dedupPrefix(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        substring_index(col("text"), " ", 6).as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"),
        min("doc_id").as("first_id"))
      .filter(col("n_docs") >= 2)
      .select(md5(col("prefix").cast("binary")).as("prefix_hash"),
        col("n_docs"), col("m.len").as("keeper_len"),
        (-col("m.nid")).as("keeper"), col("first_id"))
      .orderBy("keeper")

}
