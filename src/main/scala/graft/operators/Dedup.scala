package graft.operators

import graft.Tables
import graft.functions.PortableHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the LLM-training-pipeline surface (SURVEY.md §2F EXT / north star).
  *
  * Scale posture: every near-dup variant is LSH-banded — candidates come
  * from an equi-join on band keys (shuffle on bk, O(n·bands) rows), never
  * an O(n²) cross product. Only the pair VERIFICATION (exact Jaccard /
  * Hamming) runs on the banded candidate set. At 100 TB the same plan
  * holds: band keys partition uniformly (md5-derived), the per-band
  * bucket join is the only wide op, and signature computation is a
  * narrow per-row pass.
  *
  * Everything is oracle-checked: hashing is the engine-portable md5
  * scheme from [[graft.functions.PortableHash]], so DuckDB computes
  * bit-identical signatures, band keys, and verified pairs.
  */
object Dedup {

  // ---------------------------------------------------------------- x01
  /** Exact dedup (ref A11 `INSERT OR IGNORE` unique-key semantics,
    * phone_message_producer.py:133-151): hash-groupBy on normalized text.
    * Output: corpus size before/after dedup. */
  def x01(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(md5(lower(col("text")).cast("binary")).as("h"))
      .agg(count(lit(1)).as("total"), countDistinct(col("h")).as("uniq"))

  val x01Sql: String =
    """SELECT count(*) AS total, count(DISTINCT md5(lower(text))) AS uniq
      |FROM documents""".stripMargin

  // ------------------------------------------------- shared LSH core
  /** MinHash+LSH near-dup pairs over a shingled corpus.
    *
    * One groupBy per doc produces BOTH the nPerm min-hash signature
    * slots (codegen'd min-aggregates with map-side partials) and the
    * sorted distinct 60-bit shingle-hash set used for verification.
    * Banded candidates come from an equi-join on band keys; each
    * candidate pair is verified with an O(n+m) merge-scan intersect
    * ([[graft.functions.SortedIntersectSize]]) — Jaccard is computed
    * over the hashed shingle sets (a 60-bit hash collision altering the
    * count has probability ~n²/2^61 per doc — negligible, and the DuckDB
    * oracle computes the identical quantity).
    *
    * @param hv   (doc_id, hf) — one row per shingle OCCURRENCE, full
    *             60-bit portable hash. Duplicates are fine: min-hash is
    *             duplicate-insensitive and the verify set dedups.
    * @param seed offsets the permutation constants so word-level and
    *             char-level variants draw independent hash families
    * @param r    rows per band; nBands bands of r signature slots
    * @param thresh exact-Jaccard verification threshold
    * @param materializeSig persist the per-doc signature relation so its
    *   merge-side aggregation runs once instead of once per consumer —
    *   worth it when the shingle volume (and therefore the collect_set
    *   arrays) is large, e.g. the char-8-gram path where shingles ≈ one
    *   per input byte. MEMORY_AND_DISK: spills rather than OOMs at
    *   corpus scale, and Spark's CacheManager dedups repeat invocations
    *   of the same plan, so a long session holds one copy, not N.
    */
  /** Per-doc signature relation: sorted distinct shingle-hash set plus
    * the r*nBands min-hash slots — the shared kernel of the self-join
    * (lshPairs) and two-sided (incremental) LSH paths. */
  private[operators] def sigOf(hv: DataFrame, seed: Int, r: Int,
      nBands: Int): DataFrame = {
    val aggs = sort_array(collect_set(col("hf"))).as("hs") +:
      (0 until r * nBands).map { j =>
        min((col("hf") % P * permA(seed + j) + permB(seed + j)) % P).as(s"m$j")
      }
    hv.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Band-key explode column over a [[sigOf]] relation. */
  private def bandKeyCol(r: Int, nBands: Int) =
    explode(array((0 until nBands).map { bn =>
      concat_ws("_", lit(bn) +: (0 until r).map(k =>
        col(s"m${bn * r + k}")): _*)
    }: _*))

  private def lshPairs(hv: DataFrame, seed: Int, r: Int,
      nBands: Int, thresh: Double,
      materializeSig: Boolean = false): DataFrame = {
    // The signature relation feeds four consumers (both sides of the
    // band self-join, plus the two verify lookups). Unmaterialized, the
    // groupBy's own shuffle canonicalizes identically in every branch,
    // so ReuseExchange already runs the expensive map side (shingle
    // explode + md5 + partial aggs) ONCE; only the merge-side agg
    // replays per consumer. (An explicit repartition to also share the
    // merge agg was measured SLOWER — it re-shuffles the full hash-set
    // arrays.) For heavy shingle volumes, materializeSig caches the
    // merged relation instead.
    val sigPlan = sigOf(hv, seed, r, nBands)
    val sig = if (materializeSig) persistShared(sigPlan) else sigPlan
    lshPairsFromSig(sig, r, nBands, thresh)
  }

  /** Per-band candidate cap — the library's bound on LSH's output-bound
    * worst case. A band bucket holding B docs generates B(B-1)/2
    * candidate pairs; a boilerplate-heavy corpus (every replica a true
    * duplicate — exactly the 10× rehearsal's fixture) makes that
    * quadratic in replica count. With a cap K, each bucket keeps only
    * its K smallest ids (deterministic: ties impossible on a key
    * column), so candidates are ≤ nBands·K(K-1)/2 per bucket — a 100 TB
    * caller can bound the blowup and still catch every cluster (the K
    * survivors of a hot bucket still pair with each other; dedup wants
    * ONE representative anyway, not all C(B,2) edges). Default None:
    * the plan is byte-identical to the uncapped form and the gates stay
    * exact. The cap's window rides the SAME bk key the band join
    * shuffles on. */
  private def capBandBuckets(bands: DataFrame, idCol: String,
      cap: Option[Int]): DataFrame = cap.fold(bands) { k =>
    require(k >= 2, s"maxBandBucket must be >= 2 to form pairs, got $k")
    import org.apache.spark.sql.expressions.Window
    bands
      .withColumn("rn", row_number().over(
        Window.partitionBy("bk").orderBy(col(idCol))))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Band join + exact-Jaccard verification over a prebuilt signature
    * relation (doc_id, hs, m0..m{r*nBands-1}). */
  private def lshPairsFromSig(sig: DataFrame, r: Int,
      nBands: Int, thresh: Double,
      maxBandBucket: Option[Int] = None): DataFrame = {
    // shuffle_hash (not broadcast): identical shuffles on bk on both
    // sides canonicalize equal, so the band relation is also built once
    val bands = capBandBuckets(sig.select(col("doc_id"),
      bandKeyCol(r, nBands).as("bk")), "doc_id", maxBandBucket)
      .hint("shuffle_hash")
    val cand = bands.alias("x")
      .join(bands.alias("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sa = sig.select(col("doc_id").as("a"), col("hs").as("hsa"))
    val sb = sig.select(col("doc_id").as("b"), col("hs").as("hsb"))
    import graft.functions.ArrayMath
    cand.join(sa, "a").join(sb, "b")
      .withColumn("inter", ArrayMath.sortedIntersectSize(col("hsa"), col("hsb")))
      .withColumn("jac", col("inter") /
        (size(col("hsa")) + size(col("hsb")) - col("inter")).cast("double"))
      .filter(col("jac") >= thresh)
      // floor micro-units, not round(): round half-ties on exact
      // rational values diverge across engines (see TextOps.x09)
      .select(col("a"), col("b"),
        floor(col("jac") * 1000000).cast("long").as("jac_u"))
  }

  /** The CTE chain of [[lshSql]] up to relation `j` (a, b, jac) — also
    * the pair oracle for the streaming admission gate (s17). */
  private[operators] def lshPairCtes(shingleSql: String, seed: Int, r: Int,
      nBands: Int): String = {
    val minCols = (0 until r * nBands).map { j =>
      s"min((hf % $P * ${permA(seed + j)} + ${permB(seed + j)}) % $P) AS m$j"
    }.mkString(",\n  ")
    val bandKey = "concat_ws('_', bn, " +
      (0 until r).map(k => s"sig[$r*bn+${k + 1}]").mkString(", ") + ")"
    val sigList = (0 until r * nBands).map(j => s"m$j").mkString("[", ", ", "]")
    s"""base AS (SELECT doc_id, $shingleSql AS sg FROM documents),
       |hv AS (SELECT doc_id, ${duckH60("s")} AS hf
       |  FROM (SELECT doc_id, unnest(sg) AS s FROM base)),
       |sig AS (SELECT doc_id, list_sort(list(DISTINCT hf)) AS hs,
       |  $minCols
       |  FROM hv GROUP BY doc_id),
       |sig2 AS (SELECT doc_id, hs, $sigList AS sig FROM sig),
       |bands AS (SELECT doc_id, $bandKey AS bk
       |  FROM sig2, (SELECT unnest(range(0, $nBands)) AS bn) t),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
       |v AS (SELECT a, b, len(list_intersect(sa.hs, sb.hs)) AS inter,
       |    len(sa.hs) AS la, len(sb.hs) AS lb
       |  FROM cand JOIN sig2 sa ON sa.doc_id = cand.a JOIN sig2 sb ON sb.doc_id = cand.b),
       |j AS (SELECT a, b, inter / CAST(la + lb - inter AS DOUBLE) AS jac FROM v)""".stripMargin
  }

  /** DuckDB mirror of [[lshPairs]] — same constants, same band layout,
    * same hashed-set Jaccard. @param shingleSql yields the (possibly
    * duplicated) shingle LIST for one document row. */
  private def lshSql(shingleSql: String, seed: Int, r: Int, nBands: Int,
      thresh: Double): String =
    s"""WITH ${lshPairCtes(shingleSql, seed, r, nBands)}
       |SELECT a, b, CAST(floor(jac * 1000000) AS BIGINT) AS jac_u FROM j WHERE jac >= $thresh""".stripMargin

  /** Streaming-admission support (s17): the x02-family signature
    * relation and its exploded band keys, with the family constants
    * (seed 0, r 2, 8 bands) pinned so the streaming gate and the x02
    * oracle share one contract. */
  private[operators] def admissionSig(docs: DataFrame): DataFrame =
    wordSigOf(docs, seed = 0, r = 2, nBands = 8)
  private[operators] def admissionBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), bandKeyCol(2, 8).as("bk"))
  // def, not val: wordShinglesSql is declared later in this object and
  // a val here would read null during object init
  private[operators] def admissionShinglesSql: String = wordShinglesSql

  /** Word 3-gram shingle-occurrence hashes, one row each (codegen'd). */
  private[graft] def wordShingleHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .selectExpr("doc_id", "w",
        "explode(sequence(1, greatest(size(w)-2, 1))) AS i")
      .select(col("doc_id"),
        h60(expr("concat_ws(' ', slice(w, i, 3))")).as("hf"))

  private val wordShinglesSql: String =
    """list_transform(range(1, greatest(len(string_split(lower(text),' '))-1, 2)),
      |    i -> concat_ws(' ', string_split(lower(text),' ')[i], string_split(lower(text),' ')[i+1], string_split(lower(text),' ')[i+2]))""".stripMargin

  // ---------------------------------------------------------------- x02
  /** MinHash+LSH near-dup pairs on word 3-gram shingles, verified with
    * exact hashed-shingle Jaccard >= 0.8. 16 permutations in 8 bands x 2
    * rows (>=99.9% recall at j=0.8). */
  /** Library entry: near-dup pairs over any (doc_id, text) DataFrame.
    * Signatures come from the one-pass narrow expression (see
    * [[narrowSigOf]]); the composed explode+agg path is kept as the
    * equivalence reference in ExactnessSpec. */
  def nearDupWordPairs(docs: DataFrame, thresh: Double = 0.8,
      maxBandBucket: Option[Int] = None): DataFrame =
    lshPairsFromSig(wordSigOf(docs, seed = 0, r = 2, nBands = 8),
      r = 2, nBands = 8, thresh, maxBandBucket)

  def x02(s: SparkSession, d: String): DataFrame =
    nearDupWordPairs(Tables.documents(s, d))

  val x02Sql: String = lshSql(wordShinglesSql, 0, 2, 8, 0.8)

  // ---------------------------------------------------------------- x04
  /** Character 8-gram MinHash+LSH near-dup (catches word-reordering
    * edits that word shingles miss), verified Jaccard >= 0.7. */
  /** Char 8-gram shingle-occurrence hashes, one row each — shared by
    * the char near-dup path (x04) and decontamination (x18, which
    * threads its benchmark tag through `extraCols` so the shingle
    * definition cannot drift between the two consumers). */
  private[graft] def charShingleHashes(docs: DataFrame,
      extraCols: Seq[String] = Nil, n: Int = 8): DataFrame =
    docs
      .select(col("doc_id") +: extraCols.map(col) :+
        lower(col("text")).as("t"): _*)
      .selectExpr("doc_id" +: extraCols ++: Seq("t",
        s"explode(sequence(1, greatest(length(t)-${n - 1}, 1))) AS i"): _*)
      .select(col("doc_id") +: extraCols.map(col) :+
        h60(expr(s"substr(t, i, $n)")).as("hf"): _*)

  /** DuckDB mirror of [[charShingleHashes]] as (doc_id, hf) rows. */
  private[graft] def charShingleHashesSqlN(n: Int): String =
    s"""SELECT doc_id, ${duckH60("s")} AS hf FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(lower(text))-${n - 2}, 2)),
       |    i -> substr(lower(text), i, $n))) AS s
       |  FROM documents)""".stripMargin

  private[graft] val charShingleHashesSql: String = charShingleHashesSqlN(8)

  /** Per-doc signature relation via the one-pass
    * [[graft.functions.ShingleSig]] expressions: a NARROW projection
    * (no explode, no shuffle) that the persist shares across the band
    * join's two sides and the two verify lookups — with no signature
    * aggregation, the persist replaces the exchange ReuseExchange used
    * to share. Persisting at the struct level also prevents any
    * projection collapse from re-evaluating the signature once per
    * extracted field. Value parity with the composed
    * sigOf(shingleHashes) paths is asserted in ExactnessSpec. */
  private def narrowSigOf(docs: DataFrame,
      mk: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      nSlots: Int): DataFrame = {
    val sel = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), mk(lower(col("text"))).as("ss"))
    // Key on the SEMANTIC plan, not the DataFrame object: repeated
    // calls over the same corpus (bench rounds, verify re-runs) build
    // fresh DataFrame objects with identical plans, and keying on the
    // object would pin a new cached copy per call — the unbounded
    // growth this LRU exists to prevent.
    // semanticHash is a HASH, not an identity: a 32-bit collision
    // between two different signature plans must not serve the wrong
    // corpus. Each map entry is therefore a BUCKET of same-hash plans
    // confirmed by sameResult (Spark's own cache lookup discipline) —
    // bucketed rather than linear-probed so LRU eviction releases a
    // whole hash class at once and can never orphan a collided entry
    // behind a removed probe-chain head.
    val ss = persistShared(sel)
    ss.select(col("doc_id") +: col("ss.hs").as("hs") +:
      (0 until nSlots).map(j => col("ss.sig").getItem(j).as(s"m$j")): _*)
  }

  /** Persist `sel` MEMORY_AND_DISK through the session-lifecycle
    * registry: repeated calls with a semantically identical plan in the
    * same session return the one already-cached relation (no duplicate
    * pins), the LRU bounds total cached relations at
    * [[MaxPersistedSigs]], and [[unpersistSignatures]] releases
    * everything at once. Shared by the near-dup signature paths here
    * and [[SimJoin]]'s ranked-token relation — any multi-consumer
    * relation a query persists for within-plan sharing must go through
    * this registry, or a multi-SF bench/verify sweep accumulates one
    * leaked cache entry per (plan, scale-factor) for the session
    * lifetime (the round-11 ADVICE finding on SimJoin.rankedOf). */
  private[operators] def persistShared(sel: DataFrame): DataFrame =
    persistedSigs.synchronized {
      val key = sel.semanticHash()
      val bucket = Option(persistedSigs.get(key)).getOrElse(Nil)
      // the session is part of the identity, not just the plan: in a
      // multi-session JVM an identical plan from another (possibly
      // stopped) session must not be served across the boundary — its
      // cached blocks live in that session's context
      bucket.find(p => (p.sparkSession eq sel.sparkSession) &&
          p.queryExecution.analyzed
          .sameResult(sel.queryExecution.analyzed))
        .getOrElse {
          val p = sel.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persistedSigs.put(key, p :: bucket)
          while (persistedSigs.size > MaxPersistedSigs) {
            val eldest = persistedSigs.entrySet().iterator().next()
            eldest.getValue.foreach(_.unpersist(false))
            persistedSigs.remove(eldest.getKey)
          }
          p
        }
    }

  /** Whether persisted `df`, once materialized, is no larger than the
    * session's `autoBroadcastJoinThreshold` — the planner's own
    * size rule, applied to the cached bytes rather than an estimate.
    * Materializes the cache (its consumers would anyway); a disabled
    * threshold (-1) skips that and answers false. */
  private[operators] def fitsBroadcast(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && {
      df.count()
      // a fresh plan: a cached relation's stats switch from the
      // estimate to the measured bytes only once it is loaded
      df.select(df.columns.toIndexedSeq.map(df.col): _*)
        .queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    }
  }

  /** Bound on distinct (corpus, signature-config) relations kept cached
    * at once; beyond it the least-recently-used relation is released
    * automatically, so a long-lived driver cycling through corpora
    * stays bounded even if it never calls [[unpersistSignatures]]. */
  private val MaxPersistedSigs = 16

  /** Signature relations persisted by [[narrowSigOf]], LRU-keyed by the
    * semantic hash of the signature plan: a repeat call over the same
    * corpus reuses the one cached relation (no duplicate pins), and the
    * map auto-evicts past [[MaxPersistedSigs]]. All access is
    * synchronized on the map. */
  private val persistedSigs =
    new java.util.LinkedHashMap[Int, List[DataFrame]](
      16, 0.75f, /*accessOrder=*/ true)

  /** Unpersist every signature relation cached by the near-dup entry
    * points and forget them. Call after the returned plans have been
    * consumed (e.g. between corpora in a long-lived driver); returns
    * the number of relations released. Safe to call at any time — an
    * in-flight query that still needs a released relation just
    * recomputes the narrow projection. */
  def unpersistSignatures(blocking: Boolean = false): Int =
    persistedSigs.synchronized {
      var n = 0
      val it = persistedSigs.values().iterator()
      while (it.hasNext) {
        it.next().foreach { df => df.unpersist(blocking); n += 1 }
        it.remove()
      }
      n
    }

  private[operators] def charSigOf(docs: DataFrame, seed: Int, r: Int,
      nBands: Int): DataFrame =
    narrowSigOf(docs,
      t => graft.functions.CharShingleSig(t, seed, r * nBands), r * nBands)

  private[operators] def wordSigOf(docs: DataFrame, seed: Int, r: Int,
      nBands: Int): DataFrame =
    narrowSigOf(docs,
      t => graft.functions.WordShingleSig(t, seed, r * nBands), r * nBands)

  /** Library entry: char-8-gram near-dup pairs over (doc_id, text). */
  def nearDupCharPairs(docs: DataFrame, thresh: Double = 0.7,
      maxBandBucket: Option[Int] = None): DataFrame =
    // r=3 x 5 bands: random pairs (char-8 jaccard ~0.1) collide with
    // P ~ 0.5% instead of ~8% under r=2, cutting candidate volume ~15x;
    // true near-dups (j >= 0.9) still collide with P > 99.99%.
    // charSigOf: the char-gram path computes signatures in ONE narrow
    // pass per document — the composed explode+agg path would shuffle
    // ~8 hashed rows per input byte (a corpus-sized exchange at 100 TB).
    lshPairsFromSig(charSigOf(docs, seed = 100, r = 3, nBands = 5),
      r = 3, nBands = 5, thresh, maxBandBucket)

  def x04(s: SparkSession, d: String): DataFrame =
    nearDupCharPairs(Tables.documents(s, d))

  val x04Sql: String = lshSql(
    """list_transform(range(1, greatest(len(lower(text))-6, 2)),
      |    i -> substr(lower(text), i, 8))""".stripMargin,
    100, 3, 5, 0.7)

  // ---------------------------------------------------------------- x03
  /** SimHash near-dup: 32-bit signature from word-occurrence bit votes;
    * pairs at Hamming distance ≤ 3. Banding on 4 disjoint 8-bit chunks
    * is EXACT for hd ≤ 3 (pigeonhole: 3 flipped bits leave ≥1 chunk
    * untouched), so the banded plan returns precisely the brute-force
    * answer without the O(n²) join. */
  /** 32-bit SimHash signature per doc (exposed for the banding
    * exactness test). */
  private[operators] def simhashSignatures(s: SparkSession, d: String)
      : DataFrame = simhashSignaturesOf(Tables.documents(s, d))

  /** Library entry: 32-bit SimHash per (doc_id, text) row. */
  def simhashSignaturesOf(docs: DataFrame): DataFrame = {
    // Explode words so md5 runs once per occurrence; the 32 bit-vote
    // counters are plain conditional-sum aggregates (codegen'd, partial
    // map-side) instead of interpreted nested lambdas.
    val hw = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("wd"))
      .select(col("doc_id"), (h60(col("wd")) % 4294967296L).as("h"))
    val bitAggs = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    hw.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
  }

  /** Library entry: SimHash near-dup pairs (Hamming <= maxHd). */
  def simhashPairs(docs: DataFrame, maxHd: Int = 3): DataFrame = {
    val sims = simhashSignaturesOf(docs)
    val chunks = sims.select(col("doc_id"), col("sim"),
      explode(array((0 until 4).map(c =>
        concat_ws("_", lit(c),
          shiftright(col("sim"), 8 * c).bitwiseAND(255L))): _*)).as("ck"))
    chunks.alias("x")
      .join(chunks.alias("y"),
        col("x.ck") === col("y.ck") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.sim ^ y.sim)").as("hd"))
      .distinct()
      .filter(col("hd") <= maxHd)
  }

  def x03(s: SparkSession, d: String): DataFrame =
    simhashPairs(Tables.documents(s, d))

  val x03Sql: String = {
    val h = duckH60("x")
    s"""WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |hw AS (SELECT doc_id, list_transform(w, x -> $h % 4294967296) AS hw FROM ws),
       |bits AS (SELECT doc_id, list_transform(range(0, 32), j ->
       |  list_sum(list_transform(hw, h -> CASE WHEN (h // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END))) AS bits FROM hw),
       |sims AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), j ->
       |  CASE WHEN bits[j+1] > 0 THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sim FROM bits),
       |chunks AS (SELECT doc_id, sim, concat_ws('_', c, (sim // (1::BIGINT << (8*c))) % 256) AS ck
       |  FROM sims, (SELECT unnest(range(0, 4)) AS c) t),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.sim, y.sim)) AS hd
       |  FROM chunks x JOIN chunks y ON x.ck = y.ck AND x.doc_id < y.doc_id)
       |SELECT a, b, hd FROM pairs WHERE hd <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- x05
  /** Embedding-cosine near-dup, LSH-banded: 8 independent sign-random-
    * projection tables of 8 bits each generate candidates via an
    * equi-join on (table, bucket) — O(n·tables) band rows shuffled on a
    * uniform key, never an O(n²) cross product — then every candidate
    * pair is verified with the exact codegen'd cosine. Recall is
    * LSH-bounded (sign-LSH is weak at low cosine thresholds; measured
    * against the exact baseline in DedupSpec) and rises with more
    * tables. The band self-join broadcasts only while the cached band
    * relation fits `autoBroadcastJoinThreshold` and shuffles above it,
    * so no side is sized by the corpus on the driver. The hyperplanes
    * are portable-hash-derived literals embedded in BOTH engines, so
    * buckets — and therefore results — are bit-identical.
    */
  private[graft] val NTables = 8
  private[graft] val BitsPerTable = 8
  private[graft] val x05Planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until NTables * BitsPerTable).map { i =>
      (0 until 64).map { dim =>
        ((graft.functions.PortableHash.h60(s"x05p_${i}_$dim") % 2001) - 1000) / 1000.0
      }
    }

  /** Library entry: banded cosine near-dup over (vec_id, embedding). */
  def embeddingDupPairs(emb: DataFrame, thresh: Double = 0.4,
      maxBandBucket: Option[Int] = None): DataFrame =
    bandedCosinePairs(emb, Some(thresh), maxBandBucket)

  /** Shared banded-candidate builder for [[embeddingDupPairs]] (with a
    * cosine floor) and [[closestPairs]] (no floor — `thresh = None`
    * ranks EVERY banded candidate, so Spark and the oracle evaluate the
    * identical candidate set; a sentinel like -1.0 would drop an
    * antipodal pair whose float cosine lands fractionally below -1). */
  private def bandedCosinePairs(emb: DataFrame, thresh: Option[Double],
      maxBandBucket: Option[Int] = None): DataFrame = {
    import graft.functions.ArrayMath
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", ArrayMath.l2norm(col("v")))
    val bandCols = (0 until NTables).map { t =>
      val bucket = (0 until BitsPerTable).map { i =>
        val pl = array(x05Planes(t * BitsPerTable + i).map(x => lit(x)): _*)
        when(ArrayMath.dot(col("v"), pl) >= 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      concat_ws("_", lit(t), bucket)
    }
    // The band relation (explode + the 64-projection bucket assignment,
    // the expensive narrow map) is PERSISTED through the session
    // signature registry, so both self-join sides read one cached copy
    // (the r15 plan audit showed ReuseExchange not deduplicating two
    // recomputed sides under AQE: 2 Exchanges + 2 Generate subtrees).
    // The band relation is O(n·tables) rows of (id, short key) — the
    // same registry/posture as x02's persisted signature relation. When
    // its cached size fits `autoBroadcastJoinThreshold` the self-join
    // broadcasts one side (ZERO join exchanges); above it both sides
    // shuffle, so the driver never collects an O(n) relation.
    val bands = persistShared(capBandBuckets(
      e.select(col("vec_id"), explode(array(bandCols: _*)).as("bk")),
      "vec_id", maxBandBucket))
    val cand = (if (fitsBroadcast(bands)) broadcast(bands) else bands).alias("x")
      .join(bands.alias("y"),
        col("x.bk") === col("y.bk") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b")).distinct()
    val ea = e.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    val scored = cand.join(ea, "a").join(eb, "b")
      .withColumn("cos", ArrayMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
    thresh.fold(scored)(t => scored.filter(col("cos") >= t))
      .select(col("a"), col("b"),
        floor(col("cos") * 1000000).cast("long").as("cos_u"))
  }

  /** Exact all-pairs baseline (the recall oracle for the banded
    * operator, analogous to Similarity.annBrute): deliberate crossJoin,
    * fixture-scale only — do not run at corpus scale. */
  def embeddingDupPairsExact(emb: DataFrame, thresh: Double = 0.4): DataFrame = {
    import graft.functions.ArrayMath
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", ArrayMath.l2norm(col("v")))
    val a = e.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("cos", ArrayMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= thresh)
      .select(col("a"), col("b"),
        floor(col("cos") * 1000000).cast("long").as("cos_u"))
  }

  def x05(s: SparkSession, d: String): DataFrame =
    embeddingDupPairs(Tables.embeddings(s, d))

  /** Shared DuckDB CTE body of the x05 banding: candidate pairs with
    * their exact cosine in relation `p` (a, b, cos). */
  private val x05SqlBody: String = {
    def fmt(x: Double): String = f"$x%.3f"
    val planeRows = (0 until NTables * BitsPerTable).map { i =>
      s"(${i / BitsPerTable}, ${i % BitsPerTable}, [${x05Planes(i).map(fmt).mkString(", ")}])"
    }.mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |planes(t, i, pv) AS (VALUES
       |    $planeRows),
       |b AS (SELECT vec_id, concat_ws('_', t, CAST(sum(CASE
       |    WHEN list_sum(list_transform(range(1, 65), d -> v[d] * pv[d])) >= 0
       |    THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)) AS bk
       |  FROM n, planes GROUP BY vec_id, t),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id),
       |p AS (SELECT a, b,
       |  list_sum(list_transform(range(1, 65), i -> na.v[i] * nb.v[i])) / (na.nrm * nb.nrm) AS cos
       |  FROM cand JOIN n na ON na.vec_id = cand.a JOIN n nb ON nb.vec_id = cand.b)""".stripMargin
  }

  val x05Sql: String =
    s"""$x05SqlBody
       |SELECT a, b, CAST(floor(cos * 1000000) AS BIGINT) AS cos_u FROM p WHERE cos >= 0.4""".stripMargin

  // ---------------------------------------------------------------- x37
  /** Closest-pairs mining: the global top-k most-similar embedding
    * pairs. Candidates come from the same sign-projection banding as
    * x05 (equi-join on band keys, never a cross product); every
    * candidate is ranked by exact cosine with a total-order tie-break
    * (cos_u DESC, a, b), and the top-k compiles to
    * TakeOrderedAndProject — per-partition heads merged on the driver,
    * no global sort. Recall is LSH-bounded exactly like x05: a pair
    * missing from every band cannot be ranked — acceptable because
    * high-cosine pairs are precisely the ones banding collides with
    * highest probability (the paired-dataset trade documented there). */
  def closestPairs(emb: DataFrame, k: Int = 100,
      maxBandBucket: Option[Int] = None): DataFrame =
    bandedCosinePairs(emb, thresh = None, maxBandBucket)
      .orderBy(col("cos_u").desc, col("a").asc, col("b").asc)
      .limit(k)

  def x37(s: SparkSession, d: String): DataFrame =
    closestPairs(Tables.embeddings(s, d))

  val x37Sql: String =
    s"""$x05SqlBody
       |SELECT a, b, CAST(floor(cos * 1000000) AS BIGINT) AS cos_u FROM p
       |ORDER BY cos_u DESC, a, b LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- x27
  /** Incremental near-dup: an incoming BATCH checked against the
    * existing CORPUS — the production ingest mode (everything else here
    * treats the corpus as static). Same word-shingle MinHash family and
    * verification as x02, but the band join is batch-bands ×
    * corpus-bands, never corpus × corpus: candidate volume scales with
    * the batch, and at real scale the corpus-side signature relation is
    * computed once per ingest epoch (or read back from its own parquet
    * artifact) while only the batch side is fresh work. Output is
    * directed: (batch_id, corpus_id, jac_u). */
  def incrementalDupPairs(corpus: DataFrame, batch: DataFrame,
      thresh: Double = 0.8): DataFrame = {
    val r = 2; val nBands = 8; val seed = 0
    val sigC = wordSigOf(corpus, seed, r, nBands)
    val sigB = wordSigOf(batch, seed, r, nBands)
    val bandsC = sigC.select(col("doc_id"), bandKeyCol(r, nBands).as("bk"))
    val bandsB = sigB.select(col("doc_id"), bandKeyCol(r, nBands).as("bk"))
    val cand = bandsB.alias("x")
      .join(bandsC.alias("y"), col("x.bk") === col("y.bk"))
      .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    import graft.functions.ArrayMath
    cand
      .join(sigB.select(col("doc_id").as("batch_id"), col("hs").as("hsa")),
        "batch_id")
      .join(sigC.select(col("doc_id").as("corpus_id"), col("hs").as("hsb")),
        "corpus_id")
      .withColumn("inter",
        ArrayMath.sortedIntersectSize(col("hsa"), col("hsb")))
      .withColumn("jac", col("inter") /
        (size(col("hsa")) + size(col("hsb")) - col("inter")).cast("double"))
      .filter(col("jac") >= thresh)
      .select(col("batch_id"), col("corpus_id"),
        floor(col("jac") * 1000000).cast("long").as("jac_u"))
  }

  /** Fixture split: every doc_id % 10 == 3 plays the incoming batch. */
  def x27(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalDupPairs(docs.filter(col("doc_id") % 10 =!= 3),
      docs.filter(col("doc_id") % 10 === 3))
  }

  val x27Sql: String = {
    val r = 2; val nBands = 8; val seed = 0
    val minCols = (0 until r * nBands).map { j =>
      s"min((hf % $P * ${permA(seed + j)} + ${permB(seed + j)}) % $P) AS m$j"
    }.mkString(",\n  ")
    val bandKey = "concat_ws('_', bn, " +
      (0 until r).map(k => s"sig[$r*bn+${k + 1}]").mkString(", ") + ")"
    val sigList = (0 until r * nBands).map(j => s"m$j").mkString("[", ", ", "]")
    def side(tag: String, where: String) =
      s"""base$tag AS (SELECT doc_id, $wordShinglesSql AS sg FROM documents WHERE $where),
         |hv$tag AS (SELECT doc_id, ${duckH60("s")} AS hf
         |  FROM (SELECT doc_id, unnest(sg) AS s FROM base$tag)),
         |sg$tag AS (SELECT doc_id, list_sort(list(DISTINCT hf)) AS hs,
         |  $minCols
         |  FROM hv$tag GROUP BY doc_id),
         |sig$tag AS (SELECT doc_id, hs, $sigList AS sig FROM sg$tag),
         |bands$tag AS (SELECT doc_id, $bandKey AS bk
         |  FROM sig$tag, (SELECT unnest(range(0, $nBands)) AS bn) t)""".stripMargin
    s"""WITH ${side("B", "doc_id % 10 = 3")},
       |${side("C", "doc_id % 10 <> 3")},
       |cand AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
       |  FROM bandsB x JOIN bandsC y ON x.bk = y.bk),
       |v AS (SELECT batch_id, corpus_id,
       |    len(list_intersect(sa.hs, sb.hs)) AS inter,
       |    len(sa.hs) AS la, len(sb.hs) AS lb
       |  FROM cand JOIN sigB sa ON sa.doc_id = cand.batch_id
       |            JOIN sigC sb ON sb.doc_id = cand.corpus_id),
       |j AS (SELECT batch_id, corpus_id,
       |    inter / CAST(la + lb - inter AS DOUBLE) AS jac FROM v)
       |SELECT batch_id, corpus_id,
       |  CAST(floor(jac * 1000000) AS BIGINT) AS jac_u
       |FROM j WHERE jac >= 0.8""".stripMargin
  }

  // ---------------------------------------------------------------- x29
  /** Per-document n-gram novelty: the fraction of a document's distinct
    * char-8-grams whose corpus-wide FIRST occurrence (minimum doc_id)
    * is this document — i.e. how much genuinely new text a doc adds to
    * everything ingested before it. The per-doc complement of dedup:
    * near-dups score ~0, boilerplate-heavy docs score low, unique docs
    * score ~1. Used as an admission/quality signal in training-data
    * curation (alongside x09 quality and x21 repetition).
    *
    * Plan: distinct (doc,gram) pairs, then two INDEPENDENT cheap aggs —
    * per-doc gram counts, and ownership (min doc_id per gram hash)
    * re-aggregated to per-doc novel counts — joined on doc_id (one row
    * per document each). The distinct's expensive map side (shingle
    * explode + md5) runs once under ReuseExchange; no corpus-sized
    * equi-join on the gram hash ever happens (an earlier join-back
    * formulation measured 4.5s vs 1.6s for this shape at sf0.1). All
    * keys are uniform (md5-derived / doc_id), everything
    * partial-aggregates map-side. Integer `div` for the micro-unit
    * ratio so both engines floor identically (double division can land
    * on x.999… at exact rationals).
    */
  def noveltyScores(docs: DataFrame): DataFrame = {
    // one-pass distinct gram sets (nSlots=0: no minhash needed) — the
    // per-doc gram counts are a NARROW size() with no shuffle at all,
    // and the exploded ownership rows are already distinct per
    // (doc, gram), so the old corpus-sized distinct shuffle disappears.
    // NOT persisted: the two consumers re-run the narrow signature pass
    // (pure per-row CPU, no exchange), which measured 0.34s vs 1.81s
    // for a persisted struct relation at sf0.1 — cache write/read of
    // the hash arrays costs more than recomputing them
    val ss = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.CharShingleSig(lower(col("text")), 0, 0).as("ss"))
    val grams = ss.select(col("doc_id"),
      size(col("ss.hs")).cast("long").as("grams"))
    val novel = ss.select(col("doc_id"), explode(col("ss.hs")).as("hf"))
      .groupBy("hf").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("novel"))
    grams.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("grams"),
        expr("coalesce(novel, 0L) * 1000000 div grams").as("novelty_u"))
  }

  def x29(s: SparkSession, d: String): DataFrame =
    noveltyScores(Tables.documents(s, d))

  val x29Sql: String =
    s"""WITH hv AS ($charShingleHashesSql),
       |dg AS (SELECT DISTINCT doc_id, hf FROM hv),
       |g AS (SELECT doc_id, count(*) AS grams FROM dg GROUP BY doc_id),
       |own AS (SELECT min(doc_id) AS doc_id FROM dg GROUP BY hf),
       |nv AS (SELECT doc_id, count(*) AS novel FROM own GROUP BY doc_id)
       |SELECT g.doc_id, g.grams,
       |  (coalesce(nv.novel, 0) * 1000000) // g.grams AS novelty_u
       |FROM g LEFT JOIN nv USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- x35
  /** Exact-substring duplication signal — the set-wise form of the
    * ExactSubstr dedup recipe (suffix-array dedup of 50-token spans):
    * per document, how many of its distinct `windowLen`-char windows
    * also occur in ANOTHER document, plus the fraction in micro-units.
    * High shared_u marks boilerplate/quoted/templated text that
    * symmetric whole-doc Jaccard misses.
    *
    * Same two-aggregation shape as [[noveltyScores]]: windows come
    * from the one-pass narrow signature expression (no occurrence
    * explode+shuffle), ownership is a per-hash distinct-doc count, and
    * windows owned by exactly ONE doc credit that doc's unique tally —
    * shared = windows − unique, so no corpus-sized join on the window
    * hash ever happens. Within-doc repeats do NOT count as shared
    * (cross-document semantics, the contamination-relevant kind). */
  def exactSubstrStats(docs: DataFrame, windowLen: Int = 50): DataFrame = {
    val ss = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.CharShingleSig(lower(col("text")), 0, 0, windowLen)
          .as("ss"))
    val grams = ss.select(col("doc_id"),
      size(col("ss.hs")).cast("long").as("windows"))
    val uniq = ss.select(col("doc_id"), explode(col("ss.hs")).as("hf"))
      .groupBy("hf").agg(count(lit(1)).as("nd"), min(col("doc_id")).as("doc_id"))
      .filter(col("nd") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("uniq"))
    grams.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("windows"),
        expr("windows - coalesce(uniq, 0L)").as("shared"),
        expr("(windows - coalesce(uniq, 0L)) * 1000000 div windows")
          .as("shared_u"))
  }

  def x35(s: SparkSession, d: String): DataFrame =
    exactSubstrStats(Tables.documents(s, d))

  val x35Sql: String =
    s"""WITH hv AS (${charShingleHashesSqlN(50)}),
       |dg AS (SELECT DISTINCT doc_id, hf FROM hv),
       |g AS (SELECT doc_id, count(*) AS windows FROM dg GROUP BY doc_id),
       |u AS (SELECT min(doc_id) AS doc_id FROM dg GROUP BY hf HAVING count(*) = 1),
       |uc AS (SELECT doc_id, count(*) AS uniq FROM u GROUP BY doc_id)
       |SELECT g.doc_id, g.windows,
       |  g.windows - coalesce(uc.uniq, 0) AS shared,
       |  ((g.windows - coalesce(uc.uniq, 0)) * 1000000) // g.windows AS shared_u
       |FROM g LEFT JOIN uc USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- x30
  /** Containment pairs: partial-duplicate detection — one document
    * quoted or embedded inside a larger one. Symmetric Jaccard misses
    * these (a doc 5× smaller fully contained in another has j ≈ 0.2);
    * the verified metric here is containment = |A∩B| / min(|A|,|B|)
    * over word-3-gram hash sets.
    *
    * Candidates come from the same MinHash band join as x02 but with
    * r=1 × 8 bands (single-row bands collide with P = j per band, so
    * P(candidate) = 1-(1-j)^8): asymmetric pairs with low Jaccard still
    * surface — cont=0.9 at a 1:3 size ratio (j≈0.29) is caught with
    * ~94% probability, and recall rises toward 1 as the size ratio
    * evens out. That recall floor is the documented trade for never
    * leaving equi-join land; a higher-recall exact variant would band
    * on bottom-k sketches of the SMALLER set only. Candidate volume is
    * ~8× looser than x02's r=2 banding but still O(n·bands) rows on a
    * uniform key — no cross product anywhere.
    */
  def containmentPairs(docs: DataFrame, thresh: Double = 0.8,
      maxBandBucket: Option[Int] = None): DataFrame = {
    val r = 1; val nBands = 8; val seed = 300
    val sig = wordSigOf(docs, seed, r, nBands)
    val bands = capBandBuckets(sig.select(col("doc_id"),
      bandKeyCol(r, nBands).as("bk")), "doc_id", maxBandBucket)
      .hint("shuffle_hash")
    val cand = bands.alias("x")
      .join(bands.alias("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sa = sig.select(col("doc_id").as("a"), col("hs").as("hsa"))
    val sb = sig.select(col("doc_id").as("b"), col("hs").as("hsb"))
    import graft.functions.ArrayMath
    cand.join(sa, "a").join(sb, "b")
      .withColumn("inter", ArrayMath.sortedIntersectSize(col("hsa"), col("hsb")))
      .withColumn("cont", col("inter") /
        least(size(col("hsa")), size(col("hsb"))).cast("double"))
      .filter(col("cont") >= thresh)
      .select(col("a"), col("b"),
        floor(col("cont") * 1000000).cast("long").as("cont_u"))
  }

  def x30(s: SparkSession, d: String): DataFrame =
    containmentPairs(Tables.documents(s, d))

  val x30Sql: String = {
    val r = 1; val nBands = 8; val seed = 300
    val minCols = (0 until r * nBands).map { j =>
      s"min((hf % $P * ${permA(seed + j)} + ${permB(seed + j)}) % $P) AS m$j"
    }.mkString(",\n  ")
    val bandKey = "concat_ws('_', bn, " +
      (0 until r).map(k => s"sig[$r*bn+${k + 1}]").mkString(", ") + ")"
    val sigList = (0 until r * nBands).map(j => s"m$j").mkString("[", ", ", "]")
    s"""WITH base AS (SELECT doc_id, $wordShinglesSql AS sg FROM documents),
       |hv AS (SELECT doc_id, ${duckH60("s")} AS hf
       |  FROM (SELECT doc_id, unnest(sg) AS s FROM base)),
       |sig AS (SELECT doc_id, list_sort(list(DISTINCT hf)) AS hs,
       |  $minCols
       |  FROM hv GROUP BY doc_id),
       |sig2 AS (SELECT doc_id, hs, $sigList AS sig FROM sig),
       |bands AS (SELECT doc_id, $bandKey AS bk
       |  FROM sig2, (SELECT unnest(range(0, $nBands)) AS bn) t),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
       |v AS (SELECT a, b, len(list_intersect(sa.hs, sb.hs)) AS inter,
       |    len(sa.hs) AS la, len(sb.hs) AS lb
       |  FROM cand JOIN sig2 sa ON sa.doc_id = cand.a JOIN sig2 sb ON sb.doc_id = cand.b),
       |c AS (SELECT a, b, inter / CAST(least(la, lb) AS DOUBLE) AS cont FROM v)
       |SELECT a, b, CAST(floor(cont * 1000000) AS BIGINT) AS cont_u
       |FROM c WHERE cont >= 0.8""".stripMargin
  }

  // ---------------------------------------------------------------- x39
  /** C4/RefinedWeb-style LINE-level exact dedup: split each document
    * into fixed `chunkWords`-word chunks (the fixture's texts have no
    * newlines, so fixed windows play the "line" role), keep exactly the
    * FIRST instance of every distinct chunk corpus-wide (global order:
    * doc_id, then position), drop the rest, and reassemble each
    * document's surviving chunks in original order. Unlike x35 (which
    * only SCORES duplication) this emits the cleaned corpus — the pass
    * that removes boilerplate repeated across pages before training.
    *
    * Scale shape: one narrow explode (chunks), ONE shuffle for the
    * keep-first window, one shuffle for the per-doc reassembly agg.
    * The window partitions on the chunk STRING itself, not a hash:
    * this op deletes text, so a hash collision would silently destroy
    * a distinct chunk (the count-shaped h60 users tolerate collisions;
    * a destructive op must not) — and the chunk column already travels
    * in the row, so exactness costs no extra shuffle bytes. No joins,
    * no candidate blowup. */
  def lineDedup(docs: DataFrame, chunkWords: Int = 20): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive, got $chunkWords")
    import org.apache.spark.sql.expressions.Window
    val chunks = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(ws) / $chunkWords.0) as int) - 1),
             |  i -> array_join(slice(ws, i * $chunkWords + 1, $chunkWords), ' '))""".stripMargin))
          .as(Seq("pos", "chunk")))
    val w = Window.partitionBy(col("chunk")).orderBy("doc_id", "pos")
    chunks
      .withColumn("kept", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(!col("kept"), 1)).as("n_dup"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("pos"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("text"))
  }

  def x39(s: SparkSession, d: String): DataFrame =
    lineDedup(Tables.documents(s, d))

  val x39Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents),
       |c AS (SELECT doc_id,
       |    unnest(list_transform(range(0, CAST(ceil(len(ws) / 20.0) AS BIGINT)),
       |      i -> {'pos': i, 'chunk': array_to_string(ws[20*i+1 : 20*i+20], ' ')}),
       |      recursive := true)
       |  FROM w),
       |k AS (SELECT doc_id, pos, chunk,
       |    row_number() OVER (PARTITION BY chunk
       |                       ORDER BY doc_id, pos) = 1 AS kept
       |  FROM c)
       |SELECT doc_id,
       |  count(*) AS n_chunks,
       |  CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dup,
       |  coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE kept), '')
       |    AS text
       |FROM k GROUP BY doc_id""".stripMargin

  /** x43 — edit-distance verification of LSH candidates: each char-gram
    * near-dup pair (x04's banded candidates + Jaccard gate) re-scored
    * with the exact Levenshtein distance between the two documents'
    * lowercased 120-char prefixes. Levenshtein is O(len²) per pair —
    * viable only AFTER banding has cut the pair space to candidates
    * (never corpus²), and the bounded prefix caps the per-pair cost; at
    * 100 TB the plan shape is unchanged: two hash joins back to the
    * (doc_id, prefix) projection of the corpus, distance evaluated
    * inside codegen. Fixture text is ASCII (asserted by the oracle
    * agreeing): Spark's Levenshtein counts Unicode code points while
    * DuckDB's counts differently on multi-byte input, so a non-ASCII
    * corpus should strip or normalize before this gate. */
  def editDistancePairs(docs: DataFrame, prefixLen: Int = 120,
      thresh: Double = 0.7): DataFrame = {
    val pairs = nearDupCharPairs(docs, thresh).select(col("a"), col("b"))
    val pfx = docs.select(col("doc_id"),
      lower(substring(col("text"), 1, prefixLen)).as("t"))
    pairs
      .join(pfx.select(col("doc_id").as("a"), col("t").as("ta")), Seq("a"))
      .join(pfx.select(col("doc_id").as("b"), col("t").as("tb")), Seq("b"))
      .select(col("a"), col("b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"))
  }

  def x43(s: SparkSession, d: String): DataFrame =
    editDistancePairs(Tables.documents(s, d))

  val x43Sql: String =
    s"""WITH pairs AS (
       |$x04Sql
       |)
       |SELECT p.a, p.b,
       |  levenshtein(substr(lower(da.text), 1, 120),
       |              substr(lower(db.text), 1, 120)) AS lev
       |FROM pairs p
       |JOIN documents da ON da.doc_id = p.a
       |JOIN documents db ON db.doc_id = p.b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x43_edit_distance" -> (x43 _),
    "x39_line_dedup" -> (x39 _),
    "x01_dedup_exact" -> (x01 _),
    "x02_dedup_minhash" -> (x02 _),
    "x03_dedup_simhash" -> (x03 _),
    "x04_dedup_chargram" -> (x04 _),
    "x05_dedup_embed" -> (x05 _),
    "x27_incremental_dedup" -> (x27 _),
    "x29_novelty" -> (x29 _),
    "x30_containment" -> (x30 _),
    "x35_exact_substr" -> (x35 _),
    "x37_closest_pairs" -> (x37 _),
  )

  val oracleSql: Map[String, String] = Map(
    "x43_edit_distance" -> x43Sql,
    "x39_line_dedup" -> x39Sql,
    "x01_dedup_exact" -> x01Sql,
    "x02_dedup_minhash" -> x02Sql,
    "x03_dedup_simhash" -> x03Sql,
    "x04_dedup_chargram" -> x04Sql,
    "x05_dedup_embed" -> x05Sql,
    "x27_incremental_dedup" -> x27Sql,
    "x29_novelty" -> x29Sql,
    "x30_containment" -> x30Sql,
    "x35_exact_substr" -> x35Sql,
    "x37_closest_pairs" -> x37Sql,
  )
}
