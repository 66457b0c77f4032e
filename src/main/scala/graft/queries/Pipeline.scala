package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Queries q40-q52: the LLM-training-data pipeline operators — text
  * analysis, fingerprinting, exact / n-gram-Jaccard / MinHash-LSH / SimHash
  * deduplication, embedding similarity search (brute force + LSH buckets),
  * and multimodal (binary column) plumbing.
  *
  * Cross-engine trick making even the hash-based ops oracle-checkable: a
  * 56-bit deterministic string hash computable in BOTH engines —
  * Spark `conv(substr(md5(s),1,14),16,10)::long`,
  * DuckDB `('0x'||substr(md5(s),1,14))::BIGINT`. All MinHash permutations
  * and SimHash bits derive from it with plain int64 arithmetic, so LSH
  * candidate generation is bit-identical across engines and the oracle can
  * replay the whole pipeline (false negatives of LSH don't hurt parity).
  */
object Pipeline {

  private val P = 1000000007L // modulus for minhash permutations
  private val NumPerm = 16    // minhash permutations
  private val BandSize = 4    // rows per LSH band -> 4 bands
  private val SimBits = 56    // simhash width (fits the 56-bit hash)
  private val KmvK = 128      // KMV sketch size (q113)
  private val DsirBuckets = 512 // hashed-unigram feature buckets (q127)
  private val DsirSeed = 7L // Gumbel draw seed (q131) — same seed, same sample

  /** 56-bit md5-based hash — Spark side. */
  private def h56(c: Column): Column =
    conv(substring(md5(c), 1, 14), 16, 10).cast("long")
  /** 56-bit md5-based hash — DuckDB side. */
  private def h56Sql(e: String): String =
    s"(('0x' || substr(md5($e), 1, 14))::BIGINT)"

  /** Normalized whitespace tokens — identical in both engines. */
  private def toksSpark(c: Column): Column = split(lower(c), "\\s+")
  private val toksSql = "string_split_regex(lower(text), '\\s+')"

  // ---- shared Spark fragments ----------------------------------------

  /** doc_id + exploded DISTINCT word 3-gram shingles. */
  private def shingles(df: DataFrame): DataFrame =
    graft.operators.NearDup.shingles(df, "doc_id", "text")

  /** DuckDB equivalent of [[shingles]] as a CTE body (shared with
    * [[Curation]]'s decontamination oracle so the two batteries can never
    * drift on the shingle definition). */
  private[queries] val shinglesSql =
    """tok AS (SELECT doc_id, string_split_regex(lower(text), '\s+') ws
      |        FROM documents WHERE len(string_split_regex(lower(text), '\s+')) >= 3),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(range(1, len(ws) - 1),
      |                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) gs
      |       FROM tok),
      |ex AS (SELECT doc_id, unnest(gs) g FROM sh)""".stripMargin

  /** Document-frequency cap for q46 candidate generation (see
    * [[graft.operators.NearDup]]): shingles shared by more docs than this
    * are dropped from the inverted-index JOIN (quadratic hot-key blowup),
    * never from the exact-Jaccard verify. The oracle replays the cap. */
  private val DfCap = 100L

  /** DuckDB pair CTEs (full, uncapped inverted join) over the HASHED
    * shingle index `exh` — q47's oracle-side exact verify. */
  private val jaccardPairsSql =
    """sizes AS (SELECT doc_id, count(*) n FROM exh GROUP BY doc_id),
      |shared AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) shared
      |           FROM exh a JOIN exh b ON a.g = b.g AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b, shared,
      |                 CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) jaccard
      |          FROM shared JOIN sizes sa ON sa.doc_id = doc_a
      |                      JOIN sizes sb ON sb.doc_id = doc_b)""".stripMargin

  /** Left-fold dot product of two double arrays — order-identical in both
    * engines (the codegen'd [[graft.functions.VectorOps]] kernel and
    * DuckDB's `list_reduce` both fold `((0+p1)+p2)+…` in IEEE doubles; the
    * interpreted `aggregate(zip_with(...))` HOF form it replaced folded the
    * same way, so hashes are unchanged — FunctionsSpec asserts equality). */
  private def dotD(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotCol(a, b)
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private def embD(c: Column): Column = c.cast("array<double>")

  /** The q51/q56 oracle's 16 deterministic pseudo-planes. Bucketing is
    * [[graft.operators.HyperplaneLsh.bucket]] (codegen vec_dot per plane;
    * identical left fold to the HOF/`list_reduce` form, so the bucket bits
    * are bit-identical to the oracle's arithmetic). */
  private val lshPlanes: Seq[Seq[Double]] = (0 until 16).map { j =>
    (0 until 64).map(i => ((j * 1009 + i * 31) % 97) / 97.0 - 0.5)
  }
  private def lshBucket(emb: Column): Column =
    graft.operators.HyperplaneLsh.bucket(emb, lshPlanes)

  val entries: Seq[Entry] = Seq(

    // ---- text analysis -------------------------------------------------
    Entry("q40_text_stats", Some(
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
        |       CAST(length(text) AS BIGINT) AS n_chars_m,
        |       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) AS punct_ratio,
        |       CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |         / len(regexp_extract_all(text, '\S+')) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"),
        regexp_count(col("text"), lit("[.,;:!?]")).cast("long").as("n_punct"),
        length(col("text")).cast("long").as("n_chars_m"),
        (regexp_count(col("text"), lit("[.,;:!?]")).cast("double") / length(col("text"))).as("punct_ratio"),
        (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          regexp_count(col("text"), lit("\\S+"))).as("avg_word_len"))
        .orderBy(col("doc_id"))
    },

    // language id via stopword-count heuristic (n-gram-free langid).
    Entry("q41_lang_id", Some(
      """SELECT doc_id, lang,
        |       CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|is|and)\b')) AS BIGINT) AS s_en,
        |       CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
        |       CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b')) AS BIGINT) AS s_es,
        |       CAST(len(regexp_extract_all(lower(text), '\b(le|les|et|est|une)\b')) AS BIGINT) AS s_fr,
        |       CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|to|is|and)\b')) >=
        |                 greatest(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')),
        |                          len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b')),
        |                          len(regexp_extract_all(lower(text), '\b(le|les|et|est|une)\b')), 1)
        |            THEN 'en'
        |            WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) >=
        |                 greatest(len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b')),
        |                          len(regexp_extract_all(lower(text), '\b(le|les|et|est|une)\b')), 1)
        |            THEN 'de'
        |            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b')) >=
        |                 greatest(len(regexp_extract_all(lower(text), '\b(le|les|et|est|une)\b')), 1)
        |            THEN 'es'
        |            WHEN len(regexp_extract_all(lower(text), '\b(le|les|et|est|une)\b')) >= 1
        |            THEN 'fr'
        |            ELSE 'und' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, d) =>
      def cnt(pat: String) = regexp_count(lower(col("text")), lit(pat)).cast("long")
      val en = cnt("\\b(the|a|of|to|is|and)\\b")
      val de = cnt("\\b(der|die|das|und|ist)\\b")
      val es = cnt("\\b(el|la|de|que|es)\\b")
      val fr = cnt("\\b(le|les|et|est|une)\\b")
      table(s, d, "documents").select(
        col("doc_id"), col("lang"),
        en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
        when(en >= greatest(de, es, fr, lit(1L)), "en")
          .when(de >= greatest(es, fr, lit(1L)), "de")
          .when(es >= greatest(fr, lit(1L)), "es")
          .when(fr >= 1, "fr")
          .otherwise("und").as("pred_lang"))
        .orderBy(col("doc_id"))
    },

    // composite quality score — all per-row double ops, written in the
    // identical evaluation order on both sides.
    Entry("q42_quality_score", Some(
      """SELECT doc_id,
        |       0.4 * least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50, 1.0)
        |       + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |       + 0.3 * least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|is|and)\b')) AS DOUBLE)
        |                     / 10, 1.0) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val ntok = regexp_count(col("text"), lit("\\S+")).cast("double")
      val npunct = regexp_count(col("text"), lit("[.,;:!?]")).cast("double")
      val nstop = regexp_count(lower(col("text")), lit("\\b(the|a|of|to|is|and)\\b")).cast("double")
      table(s, d, "documents").select(
        col("doc_id"),
        (lit(0.4) * least(ntok / 50, lit(1.0)) +
          lit(0.3) * (lit(1.0) - npunct / length(col("text"))) +
          lit(0.3) * least(nstop / 10, lit(1.0))).as("quality"))
        .orderBy(col("doc_id"))
    },

    // BPE-ish token counting (letter runs / digits / punctuation marks).
    Entry("q43_bpe_tokens", Some(
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("long").as("n_bpe"))
        .orderBy(col("doc_id"))
    },

    // Gopher quality-rule battery (Rae et al. 2021 App. A1.1): the
    // published pre-training filter as integer-exact rule bits — one
    // codegen'd per-row projection, no shuffle (operators/GopherRules).
    // The stop list is the battery's per-language knob: this corpus has a
    // synthetic 31-word vocabulary whose only function words are "the" and
    // "a", so the published English set would make r_stop constant-0;
    // swapping be→a keeps the >=2-distinct threshold meaningful here.
    Entry("q94_gopher_rules", Some(graft.operators.GopherRules.oracleSql(
      Seq("the", "a", "to", "of", "and", "that", "have", "with")))) { (s, d) =>
      graft.operators.GopherRules.ruleBits(table(s, d, "documents"),
        stopWords = Seq("the", "a", "to", "of", "and", "that", "have", "with"))
        .orderBy(col("doc_id"))
    },

    // BPE training's pair statistic (Sennrich et al. 2016): adjacent
    // character-pair counts weighted by word frequency — the argmax is the
    // first learned merge. The corpus is touched once (word-count
    // aggregate); the pair explode runs over the VOCABULARY, so at 100 TB
    // this is corpus-sized shuffle #1 + vocab-sized shuffle #2. The full
    // iterative trainer (operators/BpeTrain.train) reruns the vocab-side
    // statistic per merge; BpeTrainSpec pins it on the classic example.
    Entry("q95_bpe_pairs", Some(
      """WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) w
        |             FROM documents),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) c FROM tok GROUP BY w),
        |pairs AS (SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) pair, c
        |          FROM wc WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(c) AS BIGINT) cnt
        |FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 100""".stripMargin)) {
      (s, d) =>
      graft.operators.BpeTrain.pairCounts(
        graft.operators.BpeTrain.wordCounts(table(s, d, "documents")))
        .limit(100)
    },

    // ---- BM25 full-text search (inverted index, hash-exact oracle) -----
    // graft.operators.Bm25: postings/lexicon/doc-length index (three hash
    // aggregates over one token explosion) + fixed-point BM25 scoring —
    // per-(doc,term) contributions are floor(tfn * rsj * 2^20) (per-row
    // IEEE double ops on identical operands, bit-identical cross-engine;
    // the log-free RSJ weight avoids libm), summed per doc in int64, so
    // the DuckDB oracle replays every score exactly. The query touches
    // only the three query terms' postings; the per-doc sum is one
    // aggregate over the matching rows — query cost scales with the
    // terms' document frequency, never the corpus.
    Entry("q105_bm25", Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |             FROM documents),
        |post AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
        |lex AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
        |dstat AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |st AS (SELECT count(*) AS n,
        |              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |       FROM dstat),
        |m AS (SELECT p.doc_id,
        |             CAST(floor(((CAST(p.tf AS DOUBLE) * 2.2) /
        |                    (CAST(p.tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * CAST(dstat.dl AS DOUBLE)) / st.avgdl)))
        |               * (((CAST(st.n AS DOUBLE) - CAST(lex.df AS DOUBLE)) + 0.5) / (CAST(lex.df AS DOUBLE) + 0.5))
        |               * 1048576.0) AS BIGINT) AS contrib
        |      FROM post p JOIN lex USING (term) JOIN dstat USING (doc_id) CROSS JOIN st
        |      WHERE p.term IN ('merge', 'vector', 'batch'))
        |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score,
        |       count(*) AS matched_terms
        |FROM m GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin)) {
      (s, d) =>
      import graft.operators.Bm25
      val (post, lex, docs) = Bm25.index(table(s, d, "documents"), "doc_id", "text")
      Bm25.search(post, lex, docs, Seq("merge", "vector", "batch"), 15)
    },

    // document fingerprinting: md5 of the normalized text + a 56-bit int fp.
    Entry("q44_fingerprint", Some(
      s"""SELECT doc_id,
         |       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         |                               ' +', ' ', 'g'))) AS fp_md5,
         |       ${h56Sql("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")} AS fp56
         |FROM documents ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      // localCheckpoint before the global sort: the RangePartitioner's
      // sampling pass otherwise re-evaluates the whole projection — two
      // regex normalizations over EVERY document's full text just to learn
      // doc_id boundaries. Materializing the (narrow: id + two hashes)
      // result first makes the sample and the sort read ~60 B/row instead
      // of re-reading and re-normalizing the corpus (the q32 dictionary
      // pattern; at sf1 this was the battery's worst scale ratio).
      table(s, d, "documents").select(
        col("doc_id"), md5(norm).as("fp_md5"), h56(norm).as("fp56"))
        .localCheckpoint()
        .orderBy(col("doc_id"))
    },

    // exact dedup on a normalized key (prefix-40): groups of copies, keeper
    // = min doc_id (hash-groupBy — the exact-dedup primitive).
    Entry("q45_dedup_exact", Some(
      """SELECT md5(substr(lower(text), 1, 40)) AS group_fp,
        |       count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY substr(lower(text), 1, 40)
        |HAVING count(*) > 1
        |ORDER BY group_fp""".stripMargin)) { (s, d) =>
      table(s, d, "documents")
        .groupBy(substring(lower(col("text")), 1, 40).as("k"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .where(col("n_copies") > 1)
        .select(md5(col("k")).as("group_fp"), col("n_copies"), col("keep_id"))
        .orderBy(col("group_fp"))
    },

    // n-gram Jaccard near-dup pairs over the df-capped inverted index in a
    // single join→groupBy pass, with the exact hot-shingle correction term
    // (graft.operators.NearDup.cappedJaccardPairs — hot-shingle-skew-proof
    // without materializing or broadcasting the pair set; the oracle
    // replays the cap and the correction).
    Entry("q46_ngram_jaccard", Some(
      s"""WITH $shinglesSql,
         |exh AS (SELECT doc_id, ${h56Sql("g")} AS g FROM ex),
         |dfc AS (SELECT g, count(*) dfx FROM exh GROUP BY g),
         |hot AS (SELECT g FROM dfc WHERE dfx > $DfCap),
         |exc AS (SELECT e.doc_id, e.g FROM exh e ANTI JOIN hot h ON e.g = h.g),
         |sharedc AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) sc
         |            FROM exc a JOIN exc b ON a.g = b.g AND a.doc_id < b.doc_id
         |            GROUP BY 1, 2),
         |hotdocs AS (SELECT e.doc_id, list(e.g) hs FROM exh e JOIN hot h ON e.g = h.g
         |            GROUP BY e.doc_id),
         |sizes AS (SELECT doc_id, count(*) n FROM exh GROUP BY doc_id),
         |pairs AS (SELECT doc_a, doc_b,
         |                 sc + CASE WHEN ha.hs IS NOT NULL AND hb.hs IS NOT NULL
         |                           THEN len(list_intersect(ha.hs, hb.hs)) ELSE 0 END AS shared
         |          FROM sharedc LEFT JOIN hotdocs ha ON ha.doc_id = doc_a
         |                       LEFT JOIN hotdocs hb ON hb.doc_id = doc_b)
         |SELECT doc_a, doc_b, shared,
         |       CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
         |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
         |           JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.25
         |ORDER BY doc_a, doc_b""".stripMargin)) { (s, d) =>
      // the exploded shingle table feeds FOUR branches of the capped plan
      // (df-count, the self-join, hot-doc sets, per-doc sizes): cache it for
      // the duration of the query instead of re-tokenizing the corpus per
      // branch. MEMORY_AND_DISK spills, never OOMs; at cluster scale this is
      // the standard "stage the exploded index" step (or a temp table). The
      // bench/verify harnesses clearCache() after every query.
      // The inverted index is keyed on the 56-bit shingle HASH, not the
      // string: 8-byte fixed join/shuffle keys instead of ~25-byte strings.
      // Both engines derive the hash from the same md5 arithmetic, so the
      // pipelines stay bit-identical (a hash collision — ~1e-10 here — would
      // be replayed identically by the oracle).
      graft.functions.TextOps.register(s)
      // shinglesWithSize carries each doc's denominator through the join —
      // the pair table never joins a per-document sizes side (which stops
      // broadcasting long before 100 TB)
      val ex = graft.operators.NearDup
        .shinglesWithSize(table(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col(graft.operators.NearDup.SizeCol),
          graft.functions.TextOps.h56Col(col("g")).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.NearDup
        .cappedJaccardPairs(ex, "doc_id", DfCap)
        .where(col("jaccard") >= 0.25)
        .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // MinHash + LSH banding near-dup candidates, verified with exact
    // Jaccard. The banding (4 bands x 4 rows) is replayed exactly by the
    // oracle, so LSH false negatives are parity-neutral.
    Entry("q47_minhash_lsh", Some(minhashOracleSql)) { (s, d) =>
      graft.functions.TextOps.register(s)
      // hashed inverted index (8-byte keys, like q46) with carried per-doc
      // sizes, cached: the exact-Jaccard verify joins it twice and its
      // denominators ride through (no sizes aggregate)
      val ex = graft.operators.NearDup
        .shinglesWithSize(table(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col(graft.operators.NearDup.SizeCol),
          graft.functions.TextOps.h56Col(col("g")).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // signatures via the minhash16 codegen kernel: a pure per-row map —
      // no shuffle of the exploded shingle table into a 16-column min
      // aggregate (TextOpsSpec pins equality with the aggregate form)
      val mh = table(s, d, "documents")
        .select(col("doc_id"), graft.functions.TextOps.minhash16Col(
          graft.functions.TextOps.shinglesCol(col("text"), lit(3))).as("mh"))
        .where(col("mh").isNotNull)
      // all bands in ONE pass over mh via posexplode; the two join sides
      // are identical subplans, so the second side reuses the exchange
      val bandArr = array((0 until NumPerm / BandSize).map { b =>
        concat_ws(",", (b * BandSize until (b + 1) * BandSize)
          .map(j => col("mh").getItem(j).cast("string")): _*)
      }: _*)
      val bands = mh.select(col("doc_id"), posexplode(bandArr)).toDF("doc_id", "band", "sig")
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      // exact-Jaccard verification restricted to the (few) LSH candidates:
      // broadcast the candidate pairs and count shared shingles only for
      // them — never materialize the full shared-pair table (that full
      // inverted join is q46's job; here it would be wasted work at scale)
      graft.operators.NearDup.verifiedJaccard(ex, cand, "doc_id")
        .where(col("jaccard") >= 0.2)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // SimHash document signatures (56-bit, bit-majority over token hashes).
    Entry("q48_simhash", Some(s"SELECT * FROM ($simhashCoreSql) t ORDER BY doc_id")) { (s, d) =>
      simhashSpark(s, d).orderBy(col("doc_id"))
    },

    // SimHash near-dup pairs by Hamming distance — the O(n^2)-but-cheap
    // companion of q48 (at scale the join would be banded on simhash
    // prefixes; the bit_count(xor) kernel is identical).
    Entry("q49_simhash_hamming", Some(
      s"""WITH sims AS ($simhashCoreSql)
         |SELECT a.doc_id doc_a, b.doc_id doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin)) { (s, d) =>
      // EXACT banded join, no cartesian product and no candidate dedup
      // shuffle — graft.operators.SimHashBands (shared with the scale
      // probe and ScaleLinearitySpec): 3×~19-bit bands are pigeonhole-
      // exhaustive for Hamming <= 2, first-matching-band keeps each pair
      // once, and 2^18+ buckets collapse per-band collisions (the earlier
      // 7×8-bit split had 2^8 buckets — ~4x slower).
      graft.operators.SimHashBands
        .hammingPairs(simhashSpark(s, d), "doc_id", maxDist = 2)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // brute-force cosine top-k — the exact ANN baseline. Query vectors are
    // broadcast; the scan over candidates is embarrassingly parallel.
    Entry("q50_cosine_topk", Some(
      s"""WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id, embedding ce FROM embeddings),
         |scored AS (
         |  SELECT qid, vec_id,
         |         ${dotSql("qe", "ce")} /
         |         sqrt(${dotSql("qe", "qe")} * ${dotSql("ce", "ce")}) AS score
         |  FROM q CROSS JOIN c WHERE vec_id != qid)
         |SELECT qid, vec_id, score,
         |       CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM scored) t
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)) { (s, d) =>
      graft.functions.VectorOps.register(s)
      val e = table(s, d, "embeddings")
      val q = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), embD(col("embedding")).as("qe"))
      val c = e.select(col("vec_id"), embD(col("embedding")).as("ce"))
      val scored = broadcast(q).join(c, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (dotD(col("qe"), col("ce")) /
            sqrt(dotD(col("qe"), col("qe")) * dotD(col("ce"), col("ce")))).as("score"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))).cast("long"))
        .where(col("rn") <= 10)
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // random-hyperplane LSH bucketing — the scale path for ANN: 16-bit
    // signatures from deterministic pseudo-planes; candidate search then
    // only probes the query's bucket.
    Entry("q51_ann_lsh_bucket", Some(
      """SELECT vec_id,
        |       list_reduce(list_transform(range(0, 16), j ->
        |         CASE WHEN list_reduce(list_transform(range(0, 64), i ->
        |                     CAST(embedding[i+1] AS DOUBLE) * (((j*1009 + i*31) % 97) / 97.0 - 0.5)),
        |                   (x, y) -> x + y) >= 0
        |              THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END),
        |         (x, y) -> x + y) AS bucket
        |FROM embeddings ORDER BY vec_id""".stripMargin)) { (s, d) =>
      // identical arithmetic as the oracle via the codegen [[lshBucket]]
      graft.functions.VectorOps.register(s)
      table(s, d, "embeddings")
        .select(col("vec_id"), lshBucket(embD(col("embedding"))).as("bucket"))
        .orderBy(col("vec_id"))
    },

    // IVF-style ANN: coarse-quantize every vector to its nearest of 8
    // deterministic pseudo-centroids, then probe only the query's bucket —
    // the scale path (search cost 1/K of brute force); recall traded per
    // probe count. Assignment via argmax of centroid dots:
    // array_position(dots, array_max(dots)) is engine-portable argmax.
    Entry("q53_ann_ivf", Some(
      s"""WITH assigned AS (
         |  SELECT vec_id, embedding,
         |         list_position(dl, list_max(dl)) - 1 AS bucket
         |  FROM (SELECT vec_id, embedding,
         |               list_transform(range(0, 8), c ->
         |                 list_reduce(list_transform(range(0, 64), i ->
         |                   CAST(embedding[i+1] AS DOUBLE) * (((c*131 + i*17) % 29) / 29.0 - 0.5)),
         |                   (x, y) -> x + y)) dl
         |        FROM embeddings) t),
         |q AS (SELECT vec_id qid, embedding qe, bucket FROM assigned WHERE vec_id < 3),
         |scored AS (
         |  SELECT qid, a.vec_id,
         |         ${dotSql("qe", "a.embedding")} /
         |         sqrt(${dotSql("qe", "qe")} * ${dotSql("a.embedding", "a.embedding")}) AS score
         |  FROM q JOIN assigned a USING (bucket) WHERE a.vec_id != qid)
         |SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM scored) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)) { (s, d) =>
      graft.functions.VectorOps.register(s)
      // pseudo-centroid weights computed in Scala with the oracle's exact
      // integer-mod-then-double arithmetic; vec_dot's left fold is the same
      // fold the interpreted HOF form (and the DuckDB list_reduce) performs,
      // so the scores are bit-identical — but the 8x64 multiply-adds now run
      // inside WholeStageCodegen instead of boxing a Double per element.
      val pseudoCentroids: Seq[Seq[Double]] = (0 until 8).map { c =>
        (0 until 64).map(i => ((c * 131 + i * 17) % 29) / 29.0 - 0.5)
      }
      val assigned = table(s, d, "embeddings")
        .withColumn("emb", embD(col("embedding")))
        .withColumn("dl", array(pseudoCentroids.map(w => dotD(col("emb"), typedlit(w))): _*))
        .withColumn("bucket", expr("array_position(dl, array_max(dl)) - 1"))
        .select(col("vec_id"), col("emb"), col("bucket"))
      val q = assigned.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("emb").as("qe"), col("bucket"))
      val scored = broadcast(q).join(assigned, Seq("bucket"))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (dotD(col("qe"), col("emb")) /
            sqrt(dotD(col("qe"), col("qe")) * dotD(col("emb"), col("emb")))).as("score"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))).cast("long"))
        .where(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // multimodal plumbing: opaque binary column + typed metadata + a
    // deterministic stand-in for feature extraction (real decoders aren't in
    // this container; the Spark-side schema/partitioning is the real part —
    // see graft.multimodal for the mapPartitions decode pipeline).
    Entry("q52_multimodal_binary", Some(
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS digest,
        |       CAST(octet_length(encode(text)) % 256 AS DOUBLE) / 255.0 AS f_len,
        |       CAST(ascii(substr(text, 1, 1)) AS DOUBLE) / 255.0 AS f_first
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val bin = encode(col("text"), "utf-8")
      table(s, d, "documents").select(
        col("doc_id"),
        length(bin).cast("long").as("n_bytes"),
        md5(bin).as("digest"),
        ((length(bin) % 256).cast("double") / 255.0).as("f_len"),
        (ascii(substring(col("text"), 1, 1)).cast("double") / 255.0).as("f_first"))
        .orderBy(col("doc_id"))
    },

    // IVF ANN with TRAINED centroids (spherical k-means, multi-probe) — the
    // quality upgrade of q53, whose pseudo-centroid pipeline stays as the
    // oracle-replayable entry. No SQL oracle (k-means training is not
    // expressible in the DuckDB replay), so the driver records a rows-only
    // check; recall vs the brute-force baseline is asserted in IvfSpec.
    // ORACLE-CHECKED since round 13 (rows-only for rounds 1-12): k-means
    // training is still not SQL-replayable, but searchTopK's exact math —
    // left-fold normalize, argmin-sqdist assignment, 2-probe selection,
    // dot score, per-query top-5 — is, from a centroids FIXTURE persisted
    // by the same run (the q78/q138 pattern; q138's oracle replays this
    // identical chain against the persisted-index search, and IvfSpec pins
    // searchIndex ≡ searchTopK bit-for-bit).
    Entry("q55_ann_ivf_trained", Some {
      val fix = s"${Q.fixture("q55-ivf")}/centroids/*.parquet"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$fix')),
         |post AS (SELECT vec_id,
         |                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |         FROM embeddings),
         |nrm AS (SELECT vec_id,
         |               list_transform(e, x -> x / sqrt(
         |                 list_reduce(list_transform(range(1, 65), i -> e[i] * e[i]),
         |                             (x, y) -> x + y))) AS v
         |        FROM post),
         |dots AS (SELECT n.vec_id, c.bucket,
         |                list_reduce(list_transform(range(1, 65), i ->
         |                  (n.v[i] - c.weights[i]) * (n.v[i] - c.weights[i])),
         |                  (x, y) -> x + y) AS dsq
         |         FROM nrm n CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(dsq ORDER BY bucket) AS dl FROM dots GROUP BY vec_id),
         |asg AS (SELECT n.vec_id, n.v, l.dl,
         |               list_position(l.dl, list_min(l.dl)) - 1 AS bucket
         |        FROM nrm n JOIN dlt l USING (vec_id)),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket,
         |             COALESCE(list_position(dl,
         |               list_min(list_filter(dl, x -> x <> list_min(dl)))) - 1, bucket) AS b2
         |      FROM asg WHERE vec_id < 3),
         |qp AS (SELECT qid, qv, unnest(list_value(bucket, b2)) AS bucket FROM q),
         |scored AS (
         |  SELECT qid, a.vec_id,
         |         list_reduce(list_transform(range(1, 65), i -> qp.qv[i] * a.v[i]),
         |                     (x, y) -> x + y) AS score
         |  FROM qp JOIN asg a USING (bucket) WHERE a.vec_id != qid)
         |SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM scored) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    }) { (s, d) =>
      import graft.operators.IvfIndex
      val emb = table(s, d, "embeddings")
      val fixDir = Q.fixture("q55-ivf")
      graft.core.Storage.deleteRecursively(fixDir)
      // train on a deterministic 1/3 sample, 2 Lloyd iterations — the
      // index-build step, timed inside the query because the driver
      // contract is one self-contained DataFrame; a real pipeline trains
      // once and persists the centroid table (SURVEY.md §9.2). Quality is
      // pinned separately by IvfSpec (full train, recall floors).
      val trained = IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", k = 8, iters = 2)
      val centroids: Seq[Seq[Double]] = trained.map(_.toSeq).toSeq
      // both engines consume byte-identical weights: the oracle reads the
      // fixture, parquet round-trips doubles bit-exactly — skip the re-read
      IvfIndex.writeCentroids(s, centroids, fixDir.resolve("centroids").toString)
      IvfIndex.searchTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", centroids, nprobe = 2, k = 5)
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // trained-IVF SEARCH phase, oracle-checked (the q55 split, VERDICT r4
    // #7): k-means training is not SQL-replayable, so the trained centroids
    // are persisted as a parquet FIXTURE and the oracle reads the same
    // fixture with read_parquet — the probe + rank math (dot-argmax
    // assignment, 2-probe bucket selection, cosine score, per-query top-5)
    // is deterministic and replays exactly. Assignment here is
    // argmax-dot (scale-invariant, so raw embeddings work on both engines
    // with identical IEEE folds); production assign() keeps its normalized
    // sqdist form, pinned by IvfSpec's recall floors.
    Entry("q78_ivf_search_trained", Some {
      val fix = s"${Q.fixture("q78-ivf")}/centroids/*.parquet"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$fix')),
         |dots AS (SELECT e.vec_id, c.bucket,
         |                list_reduce(list_transform(range(1, 65), i ->
         |                  CAST(e.embedding[i] AS DOUBLE) * c.weights[i]), (x, y) -> x + y) AS d
         |         FROM embeddings e CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(d ORDER BY bucket) AS dl FROM dots GROUP BY vec_id),
         |assigned AS (SELECT e.vec_id, e.embedding, l.dl,
         |                    list_position(l.dl, list_max(l.dl)) - 1 AS bucket
         |             FROM embeddings e JOIN dlt l USING (vec_id)),
         |q AS (SELECT vec_id qid, embedding qe, bucket,
         |             COALESCE(list_position(dl,
         |               list_max(list_filter(dl, x -> x <> list_max(dl)))) - 1, bucket) AS b2
         |      FROM assigned WHERE vec_id < 3),
         |qp AS (SELECT qid, qe, unnest(list_value(bucket, b2)) AS bucket FROM q),
         |scored AS (
         |  SELECT qid, a.vec_id,
         |         ${dotSql("qe", "a.embedding")} /
         |         sqrt(${dotSql("qe", "qe")} * ${dotSql("a.embedding", "a.embedding")}) AS score
         |  FROM qp JOIN assigned a USING (bucket) WHERE a.vec_id != qid)
         |SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM scored) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    }) { (s, d) =>
      import graft.operators.IvfIndex
      graft.functions.VectorOps.register(s)
      val fixDir = Q.fixture("q78-ivf")
      graft.core.Storage.deleteRecursively(fixDir)
      val emb = table(s, d, "embeddings")
      // train → persist the fixture the oracle reads; fixture and search
      // come from the SAME run, which is all the gate needs
      val trained = IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", k = 8, iters = 2)
      IvfIndex.writeCentroids(s, trained.map(_.toSeq).toSeq,
        fixDir.resolve("centroids").toString)
      // both engines consume byte-identical weights: the oracle reads the
      // fixture, parquet round-trips doubles bit-exactly — skip the re-read
      val w: Array[Seq[Double]] = trained.map(_.toSeq)
      val dl = array(w.map(c => dotD(embD(col("embedding")), typedlit(c))).toSeq: _*)
      val assigned = table(s, d, "embeddings")
        .withColumn("emb", embD(col("embedding")))
        .withColumn("dl", dl)
        .withColumn("bucket", expr("array_position(dl, array_max(dl)) - 1"))
      val q = assigned.where(col("vec_id") < 3)
        .withColumn("b2", coalesce(
          expr("array_position(dl, array_max(filter(dl, x -> x != array_max(dl)))) - 1"),
          col("bucket")))
        .select(col("vec_id").as("qid"), col("emb").as("qe"),
          explode(array(col("bucket"), col("b2"))).as("bucket"))
      val scored = broadcast(q).join(assigned, Seq("bucket"))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (dotD(col("qe"), col("emb")) /
            sqrt(dotD(col("qe"), col("qe")) * dotD(col("emb"), col("emb")))).as("score"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))).cast("long"))
        .where(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // product-quantization ADC search (operators.PqIndex): vectors stored
    // as 8 one-byte codes (32× fewer corpus bytes than raw float32), the
    // query exact, distances from a per-query m×k lookup table. Training
    // (per-subspace k-means) is not SQL-replayable, so the codebook is a
    // parquet FIXTURE like q78's centroids: encode (argmin per subspace,
    // ties → lowest code) and the ADC fold (ascending subspaces, same IEEE
    // left fold both engines) replay exactly from it. Scale path: the
    // search scans ONLY the codes column, queries broadcast, corpus never
    // shuffled; compose with IVF buckets (q53/q78) for IVF-ADC. Recall vs
    // exact brute force is pinned by PqSpec, not the oracle.
    // SemDeDup (Abbas et al. 2023): semantic dedup = cluster the embedding
    // space (trained IVF centroids, persisted as the oracle's fixture),
    // then WITHIN each cluster drop every vector that has a more-senior
    // (smaller-id) neighbor above the cosine threshold. All-pairs runs
    // per-cluster only — the paper's own trade: k scales with N to bound
    // cluster size, so at 100 TB the pair stage is sum of bounded squares
    // partitioned by cluster, never a corpus cross join. Keep bit is exact:
    // both engines compute the same IEEE double cosine (fixed fold order)
    // from the byte-identical fixture.
    Entry("q96_semdedup", Some {
      val root = s"${Q.fixture("q96-semdedup")}"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$root/centroids/*.parquet')),
         |emb AS (SELECT vec_id, embedding FROM read_parquet('$root/aug/*.parquet')),
         |dots AS (SELECT e.vec_id, c.bucket,
         |                list_reduce(list_transform(range(1, 65), i ->
         |                  e.embedding[i] * c.weights[i]), (x, y) -> x + y) AS d
         |         FROM emb e CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(d ORDER BY bucket) AS dl FROM dots GROUP BY vec_id),
         |assigned AS (SELECT e.vec_id, e.embedding,
         |                    list_position(l.dl, list_max(l.dl)) - 1 AS bucket
         |             FROM emb e JOIN dlt l USING (vec_id)),
         |drops AS (SELECT DISTINCT a.vec_id
         |          FROM assigned a JOIN assigned b
         |            ON a.bucket = b.bucket AND b.vec_id < a.vec_id
         |          WHERE ${dotSql("a.embedding", "b.embedding")} /
         |                sqrt(${dotSql("a.embedding", "a.embedding")} *
         |                     ${dotSql("b.embedding", "b.embedding")}) >= 0.999)
         |SELECT a.vec_id, CAST(a.bucket AS BIGINT) AS cluster,
         |       CAST(d.vec_id IS NULL AS BIGINT) AS keep
         |FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin
    }) { (s, d) =>
      import graft.operators.IvfIndex
      graft.functions.VectorOps.register(s)
      val fixDir = Q.fixture("q96-semdedup")
      graft.core.Storage.deleteRecursively(fixDir)
      val emb = table(s, d, "embeddings")
      val trained = IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", k = 8, iters = 2)
      IvfIndex.writeCentroids(s, trained.map(_.toSeq).toSeq,
        fixDir.resolve("centroids").toString)
      // the corpus has no true embedding near-dups (within-cluster cosine
      // tops out ~0.47), so every 20th vector gets a deterministically
      // jittered copy (id offset 10M, cosine ~0.99999) — the duplicate
      // class SemDeDup exists to drop. The augmented set is a FIXTURE in
      // double precision so both engines consume byte-identical values.
      val base = emb.select(col("vec_id"), embD(col("embedding")).as("embedding"))
      val planted = base.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          expr("transform(embedding, (x, i) -> " +
            "x + (CAST((vec_id * 31 + i) % 7 AS DOUBLE) - 3.0) * 0.0005)")
            .as("embedding"))
      base.union(planted).write.mode("overwrite")
        .parquet(fixDir.resolve("aug").toString)
      val aug = s.read.parquet(fixDir.resolve("aug").toString)
      // byte-identical weights without the re-read (parquet round-trips
      // doubles bit-exactly; the oracle reads the fixture)
      val w: Array[Seq[Double]] = trained.map(_.toSeq)
      val dl = array(w.map(c => dotD(col("embedding"), typedlit(c))).toSeq: _*)
      val assigned = aug
        .withColumn("dl", dl)
        .withColumn("bucket", expr("array_position(dl, array_max(dl)) - 1"))
        .select(col("vec_id"), col("embedding").as("emb"), col("bucket"))
      val a = assigned.select(col("vec_id").as("va"), col("emb").as("ea"), col("bucket"))
      val b = assigned.select(col("vec_id").as("vb"), col("emb").as("eb"), col("bucket"))
      val dropped = a.join(b, Seq("bucket"))
        .where(col("vb") < col("va") &&
          dotD(col("ea"), col("eb")) /
            sqrt(dotD(col("ea"), col("ea")) * dotD(col("eb"), col("eb"))) >= 0.999)
        .select(col("va").as("vec_id")).distinct()
      assigned
        .join(dropped.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("bucket").cast("long").as("cluster"),
          col("dropped").isNull.cast("long").as("keep"))
        .orderBy(col("vec_id"))
    },

    Entry("q90_pq_adc", Some {
      val fix = s"${Q.fixture("q90-pq")}/codebook/*.parquet"
      s"""WITH cb AS (SELECT sub, code, weights FROM read_parquet('$fix')),
         |sv AS (SELECT vec_id, s.sub,
         |              list_transform(range(1, 9),
         |                i -> CAST(embedding[s.sub * 8 + i] AS DOUBLE)) AS v
         |       FROM embeddings, (SELECT unnest(range(0, 8)) AS sub) s),
         |d AS (SELECT vec_id, sub, code,
         |             list_reduce(list_transform(range(1, 9),
         |               i -> (v[i] - weights[i]) * (v[i] - weights[i])),
         |               (x, y) -> x + y) AS dd
         |      FROM sv JOIN cb USING (sub)),
         |enc AS (SELECT vec_id, sub, code FROM (
         |          SELECT vec_id, sub, code,
         |                 row_number() OVER (PARTITION BY vec_id, sub
         |                   ORDER BY dd, code) AS rn
         |          FROM d) t WHERE rn = 1),
         |pairs AS (SELECT dq.vec_id AS qid, e.vec_id, e.sub, dq.dd
         |          FROM enc e
         |          JOIN (SELECT vec_id, sub, code, dd FROM d WHERE vec_id < 3) dq
         |          USING (sub, code)
         |          WHERE e.vec_id <> dq.vec_id),
         |adc AS (SELECT qid, vec_id,
         |               list_reduce(list(dd ORDER BY sub), (x, y) -> x + y)
         |                 AS approx_dist
         |        FROM pairs GROUP BY qid, vec_id)
         |SELECT qid, vec_id, approx_dist, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY approx_dist, vec_id) AS rn FROM adc) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    }) { (s, d) =>
      import graft.operators.PqIndex
      val fixDir = Q.fixture("q90-pq")
      graft.core.Storage.deleteRecursively(fixDir)
      val emb = table(s, d, "embeddings")
      // train on a deterministic 1/3 sample; codebook VALUES may vary run
      // to run (float mean order) but fixture and search come from the
      // SAME run, which is all the gate needs (cf. q78)
      val trained = PqIndex.train(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", m = 8, k = 16, iters = 2)
      PqIndex.writeCodebook(s, trained, fixDir.resolve("codebook").toString)
      // both engines see byte-identical weights: the oracle reads the
      // fixture, and parquet round-trips doubles bit-exactly, so the
      // in-memory codebook IS the read-back one — skip the re-read
      val cb = trained
      val enc = PqIndex.encode(emb, "vec_id", "embedding", cb)
      PqIndex.adcSearch(enc, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", cb, k = 5)
        .select(col("qid"), col("vec_id"), col("approx_dist"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // IVF-PQ composition (classic FAISS IVF-ADC + refine,
    // operators.PqIndex.ivfAdcSearchRefined): the IVF probe prunes the
    // scan to each query's 2 nearest buckets, ADC ranks only the codes
    // inside them, and the exact stage re-scores just the per-query
    // shortlist — at 100 TB the touched bytes are (nprobe/k_ivf) of the
    // 8 B/vector codes plus shortlist raw vectors. Neither trainer is
    // SQL-replayable, so BOTH models are parquet fixtures (q78's
    // centroids pattern + q90's codebook pattern) and every downstream
    // step — argmax-dot assignment, 2-probe selection, argmin encode, the
    // ascending-sub ADC fold, the exact-refine fold — replays exactly.
    Entry("q98_ivf_pq", Some {
      val root = s"${Q.fixture("q98-ivfpq")}"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$root/centroids/*.parquet')),
         |cb AS (SELECT sub, code, weights FROM read_parquet('$root/codebook/*.parquet')),
         |dots AS (SELECT e.vec_id, c.bucket,
         |                list_reduce(list_transform(range(1, 65), i ->
         |                  CAST(e.embedding[i] AS DOUBLE) * c.weights[i]), (x, y) -> x + y) AS d
         |         FROM embeddings e CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(d ORDER BY bucket) AS dl FROM dots GROUP BY vec_id),
         |assigned AS (SELECT e.vec_id, l.dl,
         |                    list_position(l.dl, list_max(l.dl)) - 1 AS bucket
         |             FROM embeddings e JOIN dlt l USING (vec_id)),
         |sv AS (SELECT vec_id, s.sub,
         |              list_transform(range(1, 9),
         |                i -> CAST(embedding[s.sub * 8 + i] AS DOUBLE)) AS v
         |       FROM embeddings, (SELECT unnest(range(0, 8)) AS sub) s),
         |d AS (SELECT vec_id, sub, code,
         |             list_reduce(list_transform(range(1, 9),
         |               i -> (v[i] - weights[i]) * (v[i] - weights[i])),
         |               (x, y) -> x + y) AS dd
         |      FROM sv JOIN cb USING (sub)),
         |enc AS (SELECT vec_id, sub, code FROM (
         |          SELECT vec_id, sub, code,
         |                 row_number() OVER (PARTITION BY vec_id, sub
         |                   ORDER BY dd, code) AS rn
         |          FROM d) t WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, bucket,
         |             COALESCE(list_position(dl,
         |               list_max(list_filter(dl, x -> x <> list_max(dl)))) - 1, bucket) AS b2
         |      FROM assigned WHERE vec_id < 3),
         |qp AS (SELECT qid, unnest(list_distinct(list_value(bucket, b2))) AS bucket FROM q),
         |cand AS (SELECT qp.qid, a.vec_id
         |         FROM qp JOIN assigned a USING (bucket) WHERE a.vec_id <> qp.qid),
         |pairs AS (SELECT c.qid, c.vec_id, e.sub, dq.dd
         |          FROM cand c JOIN enc e ON e.vec_id = c.vec_id
         |          JOIN d dq ON dq.vec_id = c.qid AND dq.sub = e.sub AND dq.code = e.code),
         |adc AS (SELECT qid, vec_id,
         |               list_reduce(list(dd ORDER BY sub), (x, y) -> x + y) AS approx_dist
         |        FROM pairs GROUP BY qid, vec_id),
         |short AS (SELECT qid, vec_id FROM (
         |            SELECT *, row_number() OVER (PARTITION BY qid
         |              ORDER BY approx_dist, vec_id) AS srn
         |            FROM adc) t WHERE srn <= 10),
         |ref AS (SELECT sh.qid, sh.vec_id,
         |               list_reduce(list_transform(range(1, 65), i ->
         |                 (CAST(qe.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE)) *
         |                 (CAST(qe.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE))),
         |                 (x, y) -> x + y) AS dist
         |        FROM short sh JOIN embeddings qe ON qe.vec_id = sh.qid
         |                      JOIN embeddings ce ON ce.vec_id = sh.vec_id)
         |SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY dist, vec_id) AS rn FROM ref) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    }) { (s, d) =>
      import graft.operators.{IvfIndex, PqIndex}
      graft.functions.VectorOps.register(s)
      val fixDir = Q.fixture("q98-ivfpq")
      graft.core.Storage.deleteRecursively(fixDir)
      val emb = table(s, d, "embeddings")
      // coarse + fine models trained on disjoint deterministic samples;
      // fixture and search share the run. The two trainers share nothing —
      // overlap their sample jobs and driver-side Lloyd (Q.par2, guide §2.6)
      val (trainedC, trainedCb) = Q.par2(
        IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
          "vec_id", "embedding", k = 8, iters = 2),
        PqIndex.train(emb.where(col("vec_id") % 3 === 1),
          "vec_id", "embedding", m = 8, k = 16, iters = 2))
      IvfIndex.writeCentroids(s, trainedC.map(_.toSeq).toSeq,
        fixDir.resolve("centroids").toString)
      PqIndex.writeCodebook(s, trainedCb, fixDir.resolve("codebook").toString)
      // both engines consume byte-identical values: the oracle reads the
      // fixtures, and parquet round-trips doubles bit-exactly, so the
      // just-trained models ARE the read-back ones — skip the re-reads
      val w: Array[Seq[Double]] = trainedC.map(_.toSeq)
      val cb = trainedCb
      val dl = array(w.map(c => dotD(embD(col("embedding")), typedlit(c))).toSeq: _*)
      val assigned = emb
        .withColumn("dl", dl)
        .withColumn("bucket", expr("array_position(dl, array_max(dl)) - 1"))
      val encAssigned = assigned.select(col("vec_id"), col("bucket"))
        .join(PqIndex.encode(emb, "vec_id", "embedding", cb), Seq("vec_id"))
      val probes = assigned.where(col("vec_id") < 3)
        .withColumn("b2", coalesce(
          expr("array_position(dl, array_max(filter(dl, x -> x != array_max(dl)))) - 1"),
          col("bucket")))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          explode(array_distinct(array(col("bucket"), col("b2")))).as("bucket"))
      PqIndex.ivfAdcSearchRefined(encAssigned, emb, probes,
          "vec_id", "embedding", "qv", cb, k = 5, shortlist = 10)
        .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // incremental SEMANTIC dedup gate (streaming.Streams
    // .semanticNoveltyFilter — the per-micro-batch decision
    // semanticIngest applies): a batch vector drops when cosine ≥
    // 0.999 against any committed vector sharing a probed IVF bucket
    // (nprobe=2), or against a smaller-id batch vector whose primary
    // bucket it probes (the same probe rule as the history check) —
    // streaming SemDeDup against all history. History carries its
    // bucket from ingest (persisted in the fixture exactly as the sink
    // persists it); planted jitters cover both drop paths and the
    // survive path. Centroids, history, and the augmented batch are all
    // parquet fixtures (training is not SQL-replayable — q78's pattern);
    // assignment, probe selection, and the cosine fold replay exactly.
    Entry("q100_stream_semdedup", Some {
      val root = s"${Q.fixture("q100-ssd")}"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$root/centroids/*.parquet')),
         |h AS (SELECT vec_id, embedding, bucket FROM read_parquet('$root/hist/*.parquet')),
         |b AS (SELECT vec_id, embedding FROM read_parquet('$root/batch/*.parquet')),
         |dots AS (SELECT e.vec_id, c.bucket,
         |                list_reduce(list_transform(range(1, 65), i ->
         |                  e.embedding[i] * c.weights[i]), (x, y) -> x + y) AS d
         |         FROM b e CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(d ORDER BY bucket) AS dl FROM dots GROUP BY vec_id),
         |assigned AS (SELECT e.vec_id, e.embedding, l.dl,
         |                    list_position(l.dl, list_max(l.dl)) - 1 AS bucket
         |             FROM b e JOIN dlt l USING (vec_id)),
         |probes AS (SELECT vec_id AS qid, embedding AS qe,
         |                  unnest(list_distinct(list_value(bucket,
         |                    COALESCE(list_position(dl, list_max(list_filter(dl,
         |                      x -> x <> list_max(dl)))) - 1, bucket)))) AS bucket
         |           FROM assigned),
         |hh AS (SELECT DISTINCT p.qid FROM probes p JOIN h
         |         ON h.bucket = p.bucket
         |        WHERE ${dotSql("h.embedding", "p.qe")} /
         |              sqrt(${dotSql("h.embedding", "h.embedding")} *
         |                   ${dotSql("p.qe", "p.qe")}) >= 0.999),
         |ih AS (SELECT DISTINCT p.qid
         |       FROM assigned x JOIN probes p
         |         ON x.bucket = p.bucket AND x.vec_id < p.qid
         |        WHERE ${dotSql("x.embedding", "p.qe")} /
         |              sqrt(${dotSql("x.embedding", "x.embedding")} *
         |                   ${dotSql("p.qe", "p.qe")}) >= 0.999)
         |SELECT vec_id FROM b
         |WHERE vec_id NOT IN (SELECT qid FROM hh UNION SELECT qid FROM ih)
         |ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      import graft.operators.IvfIndex
      graft.functions.VectorOps.register(s)
      val fixDir = Q.fixture("q100-ssd")
      graft.core.Storage.deleteRecursively(fixDir)
      val emb = table(s, d, "embeddings")
      val trained = IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", k = 8, iters = 2)
      IvfIndex.writeCentroids(s, trained.map(_.toSeq).toSeq,
        fixDir.resolve("centroids").toString)
      // both engines consume byte-identical weights: the oracle reads the
      // fixture, parquet round-trips doubles bit-exactly — skip the re-read
      val w: Array[Seq[Double]] = trained.map(_.toSeq)
      val dl = array(w.map(c => dotD(col("embedding"), typedlit(c.toSeq))).toSeq: _*)
      val base = emb.select(col("vec_id"), embD(col("embedding")).as("embedding"))
      // history = even ids, bucket persisted with the SAME assignment rule
      // the ingest sink uses
      base.where(col("vec_id") % 2 === 0)
        .withColumn("_dl", dl)
        .withColumn("bucket", expr("array_position(_dl, array_max(_dl)) - 1"))
        .drop("_dl")
        .write.mode("overwrite").parquet(fixDir.resolve("hist").toString)
      // batch = odd ids + planted jitters (q96's deterministic transform):
      // a jitter of a committed even id (drops via history), and an
      // identical jitter PAIR of a batch odd id (larger ids lose to the
      // smaller-id original intra-batch; the original survives)
      def jitter(src: org.apache.spark.sql.DataFrame, offset: Long) = src
        .select((col("vec_id") + lit(offset)).as("vec_id"),
          expr("transform(embedding, (x, i) -> " +
            "x + (CAST((vec_id * 31 + i) % 7 AS DOUBLE) - 3.0) * 0.0005)")
            .as("embedding"))
      val odd = base.where(col("vec_id") % 2 === 1)
      odd.unionAll(jitter(base.where(col("vec_id") % 20 === 0), 10000000L))
        .unionAll(jitter(odd.where(col("vec_id") % 20 === 1), 20000000L))
        .unionAll(jitter(odd.where(col("vec_id") % 20 === 1), 30000000L))
        .write.mode("overwrite").parquet(fixDir.resolve("batch").toString)
      graft.streaming.Streams.semanticNoveltyFilter(
          s.read.parquet(fixDir.resolve("batch").toString),
          s.read.parquet(fixDir.resolve("hist").toString),
          "vec_id", "embedding", w.toSeq.map(_.toSeq), tau = 0.999, nprobe = 2)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },

    // image near-dup via perceptual hash: documents rendered to 64×64 PNGs
    // (no image corpus ships with the test data), decoded by the REAL
    // ImageIO reader, pHashed (multimodal.Multimodal.phash64: 32×32 gray →
    // DCT → 63 median-threshold bits), then paired by the exact 3×21-bit
    // pigeonhole banding — never all-pairs. The decode+DCT is not
    // SQL-replayable, so the signatures are a parquet FIXTURE (q78/q90
    // pattern) and the oracle brute-forces Hamming≤2 over it — proving the
    // banded join exhaustive is exactly the gate's job. Perceptual
    // invariances (JPEG re-encode, bilinear downscale) are pinned in
    // MultimodalSpec. Scale shape: pHash is a per-row map over the media
    // scan; banding is q49's.
    Entry("q93_image_phash", Some {
      val fix = s"${Q.fixture("q93-phash")}/phash/*.parquet"
      s"""WITH p AS (SELECT doc_id, phash FROM read_parquet('$fix'))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM p a JOIN p b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
      import graft.multimodal.Multimodal
      val fixDir = Q.fixture("q93-phash")
      graft.core.Storage.deleteRecursively(fixDir)
      import s.implicits._
      // every 20th doc also ships a brightness-shifted re-encoded variant
      // (id offset 10M) — the edit class pHash exists to catch: the DC
      // coefficient is excluded and the median threshold recenters, so a
      // luminance shift barely moves the hash while distinct content stays
      // far (no full-text dups exist in this corpus — q45's dups are
      // prefix-only — so un-edited renders alone would pair nothing)
      // fanned out: PNG render + ImageIO decode + DCT per row over a
      // one-split file would serialize on a single core (Q.fanOut)
      val hashes = Q.fanOut(table(s, d, "documents")
        .select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          // render → REAL PNG encode → REAL ImageIO decode → DCT pHash;
          // rendered PNGs always decode, but stay total like the rest of
          // the media pipeline
          val png = Multimodal.renderDocImage(text)
          def ph(bytes: Array[Byte]) =
            Multimodal.decodeImage(bytes).map(Multimodal.phash64).getOrElse(0L)
          val base = Seq((id, ph(png)))
          if (id % 20 != 0) base
          else base :+ ((id + 10000000L, ph(Multimodal.brightenPng(png, 16))))
        }).toDF("doc_id", "phash")
      // no coalesce: the oracle globs *.parquet, and collapsing to one
      // file would serialize the render+DCT map onto a single core
      hashes.write.mode("overwrite")
        .parquet(fixDir.resolve("phash").toString)
      val sims = s.read.parquet(fixDir.resolve("phash").toString)
        .withColumnRenamed("phash", "simhash")
      graft.operators.SimHashBands
        .hammingPairsW(sims, "doc_id", maxDist = 2, graft.operators.SimHashBands.Split63)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // incremental media near-dup GATE (streaming.Streams.mediaNearDupFilter
    // — the batch-vs-committed-history decision the mediaNearDupIngest sink
    // applies per micro-batch): a batch document drops when ≥ minFrames
    // DISTINCT frames of it near-match (Hamming ≤ 2 on the 63-bit pHash)
    // history frames or frames of a smaller-id batch document. Each doc
    // renders 3 frames (REAL PNG encode → ImageIO decode → DCT pHash — not
    // SQL-replayable, so signatures are a parquet FIXTURE, q93's pattern);
    // planted variants exercise every branch: 2 brightness-jittered frames
    // of a history doc (→ drop), 1 of a history doc (→ survive at
    // minFrames=2), 2 of a smaller-id batch doc (→ intra-batch drop). The
    // oracle brute-forces the same decision over the fixture — proving the
    // banded candidate join exhaustive, exactly like q93. Scale shape: the
    // history side explodes to band rows as a per-row map (never
    // shuffled); every join broadcasts a batch-derived side.
    Entry("q99_media_neardup", Some {
      val fix = s"${Q.fixture("q99-mnd")}/sigs/*.parquet"
      s"""WITH s AS (SELECT doc_id, frame_idx, phash, hist FROM read_parquet('$fix')),
         |b AS (SELECT doc_id, frame_idx, phash FROM s WHERE NOT hist),
         |h AS (SELECT phash FROM s WHERE hist),
         |hm AS (SELECT DISTINCT b.doc_id, b.frame_idx FROM b JOIN h
         |         ON bit_count(xor(b.phash, h.phash)) <= 2),
         |im AS (SELECT DISTINCT b.doc_id, b.frame_idx FROM b JOIN b b2
         |         ON b2.doc_id < b.doc_id
         |        AND bit_count(xor(b.phash, b2.phash)) <= 2),
         |drops AS (SELECT doc_id
         |          FROM (SELECT * FROM hm UNION SELECT * FROM im) u
         |          GROUP BY doc_id HAVING count(*) >= 2)
         |SELECT doc_id, frame_idx, phash FROM b
         |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         |ORDER BY doc_id, frame_idx""".stripMargin
    }) { (s, d) =>
      import graft.multimodal.Multimodal
      val fixDir = Q.fixture("q99-mnd")
      graft.core.Storage.deleteRecursively(fixDir)
      import s.implicits._
      // fanned out: 3 renders + decodes per doc (Q.fanOut, q93's pattern)
      val sigs = Q.fanOut(table(s, d, "documents")
        .where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          def ph(b: Array[Byte]) =
            Multimodal.decodeImage(b).map(Multimodal.phash64).getOrElse(0L)
          def render(tag: String) = Multimodal.renderDocImage(text + tag)
          val pngs = (0 until 3).map(i => render(s" #f$i"))
          val hist = id % 10 == 0 // corpus is doc_id % 5 == 0: half hist, half batch
          val base = pngs.zipWithIndex.map { case (p, i) => (id, i, ph(p), hist) }
          def jit(i: Int) = ph(Multimodal.brightenPng(pngs(i), 16))
          val planted =
            if (id % 40 == 0) // hist doc → 2 jittered frames: drops
              Seq((id + 10000000L, 0, jit(0), false),
                (id + 10000000L, 1, jit(1), false),
                (id + 10000000L, 2, ph(render(" #px")), false))
            else if (id % 40 == 20) // hist doc → 1 jittered frame: survives
              Seq((id + 10000000L, 0, jit(0), false),
                (id + 10000000L, 1, ph(render(" #py1")), false),
                (id + 10000000L, 2, ph(render(" #py2")), false))
            else if (id % 40 == 5) // batch doc → larger-id clone: intra drop
              Seq((id + 20000000L, 0, jit(0), false),
                (id + 20000000L, 1, jit(1), false),
                (id + 20000000L, 2, ph(render(" #pz")), false))
            else Seq.empty
          base ++ planted
        }).toDF("doc_id", "frame_idx", "phash", "hist")
      // no coalesce: the oracle globs *.parquet (q93's render-parallel note)
      sigs.write.mode("overwrite").parquet(fixDir.resolve("sigs").toString)
      val sv = s.read.parquet(fixDir.resolve("sigs").toString)
      graft.streaming.Streams.mediaNearDupFilter(
          sv.where(!col("hist")).drop("hist"),
          sv.where(col("hist")).drop("hist"), minFrames = 2)
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // embedding-cosine near-dup: for every vector, its most-similar
    // neighbor WITHIN its 16-bit hyperplane-LSH bucket (exact cosine on the
    // bucketed candidates; a threshold on `score` is the dedup decision).
    // This synthetic corpus is near-uniform on the sphere (no true dup
    // clusters — max in-bucket cosine ≈ 0.5), so the per-vector argmax is
    // the form that stays non-degenerate; on a real corpus the same plan
    // surfaces dup pairs at score ≥ 0.9. Scale path: the self-join shuffles
    // on `bucket` only (the corpus would be written bucket-partitioned);
    // never all-pairs.
    Entry("q56_embed_neardup", Some(
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |         list_reduce(list_transform(range(0, 16), j ->
         |           CASE WHEN list_reduce(list_transform(range(0, 64), i ->
         |                       CAST(embedding[i+1] AS DOUBLE) * (((j*1009 + i*31) % 97) / 97.0 - 0.5)),
         |                     (x, y) -> x + y) >= 0
         |                THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END),
         |           (x, y) -> x + y) AS bucket
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id va, b2.vec_id vb,
         |         ${dotSql("a.embedding", "b2.embedding")} /
         |         sqrt(${dotSql("a.embedding", "a.embedding")} * ${dotSql("b2.embedding", "b2.embedding")}) AS score
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id != b2.vec_id)
         |SELECT va, vb, score FROM (
         |  SELECT va, vb, score, row_number() OVER (PARTITION BY va ORDER BY score DESC, vb) rn
         |  FROM scored) t
         |WHERE rn = 1 ORDER BY va""".stripMargin)) { (s, d) =>
      graft.functions.VectorOps.register(s)
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), embD(col("embedding")).as("emb"))
        .withColumn("bucket", lshBucket(col("emb")))
      val a = e.select(col("vec_id").as("va"), col("emb").as("ea"), col("bucket"))
      val b = e.select(col("vec_id").as("vb"), col("emb").as("eb"), col("bucket"))
      a.join(b, Seq("bucket")).where(col("va") =!= col("vb"))
        .select(col("va"), col("vb"),
          (dotD(col("ea"), col("eb")) /
            sqrt(dotD(col("ea"), col("ea")) * dotD(col("eb"), col("eb")))).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("va")).orderBy(col("score").desc, col("vb"))))
        .where(col("rn") === 1)
        .select(col("va"), col("vb"), col("score"))
        .orderBy(col("va"))
    },

    // document fingerprinting by WINNOWING (Schleimer/Wilkerson/Aiken,
    // SIGMOD'03): rolling 56-bit hashes of ordered word 3-grams, minimum
    // per sliding window of 5, distinct minima = the document's
    // fingerprint set. Embarrassingly parallel: both window passes
    // partition by doc_id (no global sort, no shuffle beyond the per-doc
    // repartition), so the plan is flat at any corpus size.
    Entry("q57_winnow_fingerprint", Some(
      s"""WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') ws
         |             FROM documents WHERE len(string_split_regex(lower(text), '\\s+')) >= 3),
         |gr AS (SELECT doc_id, list_transform(range(1, len(ws) - 1),
         |               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) gs
         |       FROM tok),
         |hx AS (SELECT doc_id, unnest(range(1, len(gs) + 1)) AS i,
         |              ${h56Sql("unnest(gs)")} AS h
         |       FROM gr),
         |win AS (SELECT doc_id, i,
         |               min(h) OVER (PARTITION BY doc_id ORDER BY i
         |                            ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) fp,
         |               count(*) OVER (PARTITION BY doc_id) n
         |        FROM hx)
         |SELECT DISTINCT doc_id, fp FROM win WHERE i <= n - 4
         |ORDER BY doc_id, fp""".stripMargin)) { (s, d) =>
      // the whole winnowing pipeline is the [[graft.functions.Winnow56]]
      // codegen kernel over ordered 3-grams (word_grams keeps duplicates —
      // positions matter): a shuffle-free per-row map + explode; the kernel
      // emits each doc's distinct minima so no downstream DISTINCT is
      // needed. TextOpsSpec pins equality with the window-function
      // formulation (lead-built grams, min over ROWS 0..4 frames) that the
      // oracle replays.
      graft.functions.TextOps.register(s)
      table(s, d, "documents")
        .select(col("doc_id"), explode(graft.functions.TextOps.winnow56Col(
          graft.functions.TextOps.gramsCol(col("text"), lit(3)), lit(5))).as("fp"))
        .orderBy(col("doc_id"), col("fp"))
    },

    // exact duplicated-SUBSTRING spans (the token-level dedup of Lee et
    // al., "Deduplicating Training Data Makes Language Models Better",
    // ACL'22 — they cut repeated spans, not whole documents): every
    // 5-token window is hashed; windows whose hash repeats anywhere in
    // the corpus are duplicated positions; overlapping duplicated windows
    // merge into maximal spans per document (gaps-and-islands). Where the
    // paper builds a suffix array, the distributed shape is an explode →
    // one hash aggregate on the 8-byte window hash → a per-document
    // window pass: every stage linear in corpus size, the span merge
    // partition-local. Output = the spans a dedup pass would cut.
    Entry("q75_dup_spans", Some(
      s"""WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') ws
         |             FROM documents WHERE len(string_split_regex(lower(text), '\\s+')) >= 5),
         |gr AS (SELECT doc_id, list_transform(range(1, len(ws) - 3),
         |               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]) gs
         |       FROM tok),
         |hx AS (SELECT doc_id, unnest(range(1, len(gs) + 1)) AS i,
         |              ${h56Sql("unnest(gs)")} AS h
         |       FROM gr),
         |dup AS (SELECT h FROM hx GROUP BY h HAVING count(*) > 1),
         |dp AS (SELECT doc_id, i FROM hx JOIN dup USING (h)),
         |isl AS (SELECT doc_id, i,
         |               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 4
         |                    THEN 0 ELSE 1 END brk
         |        FROM dp),
         |grp AS (SELECT doc_id, i,
         |               sum(brk) OVER (PARTITION BY doc_id ORDER BY i
         |                              ROWS UNBOUNDED PRECEDING) gid
         |        FROM isl)
         |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
         |       CAST(max(i) + 4 AS BIGINT) AS span_end,
         |       CAST(max(i) + 5 - min(i) AS BIGINT) AS n_dup_tokens
         |FROM grp GROUP BY doc_id, gid
         |ORDER BY doc_id, span_start""".stripMargin)) { (s, d) =>
      graft.functions.TextOps.register(s)
      val hx = table(s, d, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.TextOps.gramsCol(col("text"), lit(5))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
          graft.functions.TextOps.h56Col(col("col")).as("h"))
      // duplicated window hashes: NOT broadcast — the duplicated-window
      // vocabulary grows with the corpus; a plain 8-byte-key shuffle join
      val dup = hx.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1).select(col("h"))
      val byI = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val run = byI.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hx.join(dup, Seq("h"))
        .select(col("doc_id"), col("i"))
        .withColumn("brk",
          when(col("i") - lag(col("i"), 1).over(byI) <= 4, 0).otherwise(1))
        .withColumn("gid", sum(col("brk")).over(run))
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("i")).as("span_start"), (max(col("i")) + 4).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("n_dup_tokens"))
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ---- near-dup clusters: pairs → connected components → keep-one ----
    // The step after q49: its Hamming-≤2 pairs become dedup CLUSTERS via
    // operators.ConnectedComponents (alternating large-star/small-star,
    // O(log n) rounds — scale-safe where per-component collect or
    // O(diameter) label propagation is not), and every doc gets its
    // cluster's minimum doc_id as representative (rep = self when
    // unclustered). The fixpoint is unique, so the oracle — a recursive
    // transitive closure, affordable at oracle scale only — must agree
    // exactly.
    Entry("q83_neardup_clusters", Some(
      s"""WITH RECURSIVE sims AS ($simhashCoreSql),
         |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
         |          FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
         |reach(u, v) AS (SELECT u, v FROM edges
         |                UNION
         |                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |rep AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |       CAST(COALESCE(LEAST(r.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_rep
         |FROM documents d LEFT JOIN rep r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)) { (s, d) =>
      val pairs = graft.operators.SimHashBands
        .hammingPairs(simhashSpark(s, d), "doc_id", maxDist = 2)
      val labels = graft.operators.ConnectedComponents
        .labels(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      table(s, d, "documents").select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
        .orderBy(col("doc_id"))
    },

    // ---- fuzzy edit-distance neighbors: entity-resolution dedup -------
    // Short-field near-matching (titles, names) where shingles/SimHash
    // are too coarse: operators.FuzzyJoin runs the exact PassJoin-style
    // pigeonhole (segment inverted index + shifted-substring probes +
    // threshold-levenshtein verify, never all-pairs). The oracle brute-
    // forces the quadratic join — affordable at oracle scale only; the
    // length prefilter keeps DuckDB honest about the same pair set.
    Entry("q84_fuzzy_neighbors", Some(
      """WITH np AS (SELECT a.p_name AS sa, b.p_name AS sb
        |            FROM (SELECT DISTINCT p_name FROM part) a,
        |                 (SELECT DISTINCT p_name FROM part) b
        |            WHERE levenshtein(a.p_name, b.p_name) <= 1),
        |nb AS (SELECT x.p_partkey AS k, y.p_partkey AS nk
        |       FROM part x JOIN np ON x.p_name = np.sa
        |                   JOIN part y ON y.p_name = np.sb
        |                              AND y.p_partkey <> x.p_partkey)
        |SELECT p.p_partkey,
        |       CAST(COALESCE(s.cnt, 0) AS BIGINT) AS n_fuzzy,
        |       s.mn AS nn_key
        |FROM part p
        |LEFT JOIN (SELECT k, count(*) AS cnt, min(nk) AS mn
        |           FROM nb GROUP BY k) s ON p.p_partkey = s.k
        |ORDER BY p.p_partkey""".stripMargin)) { (s, d) =>
      graft.operators.FuzzyJoin.neighborProfile(
          table(s, d, "part").select(col("p_partkey"), col("p_name")),
          "p_partkey", "p_name", maxDist = 1)
        .select(col("id").as("p_partkey"), col("n_fuzzy"),
          col("nn_id").as("nn_key"))
        .orderBy(col("p_partkey"))
    },

    // ---- leakage-safe train/val/test split ----------------------------
    // The reason q83's clusters exist: a hash split on doc_id leaks
    // near-duplicates of training docs into eval. Splitting on the
    // CLUSTER REPRESENTATIVE's hash puts every near-dup group whole into
    // one split — the decontamination-by-construction split real
    // pipelines run. 80/10/10 via the portable 56-bit hash of the rep.
    Entry("q88_leakage_safe_split", Some(
      s"""WITH RECURSIVE sims AS ($simhashCoreSql),
         |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
         |          FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
         |reach(u, v) AS (SELECT u, v FROM edges
         |                UNION
         |                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |rep AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         |lab AS (SELECT d.doc_id,
         |               CAST(COALESCE(LEAST(r.mn, d.doc_id), d.doc_id) AS BIGINT) rep
         |        FROM documents d LEFT JOIN rep r USING (doc_id)),
         |b AS (SELECT doc_id, rep,
         |             ${h56Sql("CAST(rep AS VARCHAR)")} % 10 AS bkt FROM lab)
         |SELECT doc_id, rep AS cluster_rep,
         |       CASE WHEN bkt < 8 THEN 'train' WHEN bkt = 8 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val pairs = graft.operators.SimHashBands
        .hammingPairs(simhashSpark(s, d), "doc_id", maxDist = 2)
      val labels = graft.operators.ConnectedComponents
        .labels(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      table(s, d, "documents").select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
        .withColumn("bkt", pmod(h56(col("cluster_rep").cast("string")), lit(10L)))
        .select(col("doc_id"), col("cluster_rep"),
          when(col("bkt") < 8, "train").when(col("bkt") === 8, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // ---- the whole curation pipeline, composed --------------------------
    // What a user of this library actually runs: lang-id gate (q41) →
    // quality threshold (q42) → exact dedup on the normalized fingerprint,
    // keep lowest id (q44/q45) → SimHash near-dup clusters among the
    // survivors, keep each cluster's representative (q48/q49/q83) →
    // 80/10/10 split by hash (q61/q88; every kept doc is its own cluster
    // rep, so the split is leakage-safe by construction). One oracle
    // replays all five stages. Scale shape = the stages' own shapes
    // composed: per-row codegen filters, one hash aggregate for exact
    // dedup, banded Hamming pairs (never all-pairs), O(log n) CC rounds on
    // the pair graph only, then a per-row split — no stage collects or
    // re-shuffles the corpus beyond its own keyed exchange.
    Entry("q91_curation_pipeline", Some {
      val qualitySql =
        """0.4 * least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50, 1.0)
          | + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
          | + 0.3 * least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|is|and)\b')) AS DOUBLE)
          |               / 10, 1.0)""".stripMargin
      s"""WITH RECURSIVE
         |f1 AS (SELECT doc_id, $qualitySql AS quality
         |       FROM documents
         |       WHERE len(regexp_extract_all(lower(text), '\\b(the|a|of|to|is|and)\\b')) >=
         |             greatest(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')),
         |                      len(regexp_extract_all(lower(text), '\\b(el|la|de|que|es)\\b')),
         |                      len(regexp_extract_all(lower(text), '\\b(le|les|et|est|une)\\b')), 1)
         |         AND ($qualitySql) >= 0.7),
         |norm AS (SELECT doc_id,
         |                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         |                                    ' +', ' ', 'g')) AS nt
         |         FROM documents),
         |grp AS (SELECT n.nt, min(doc_id) AS keep_id
         |        FROM norm n JOIN f1 USING (doc_id) GROUP BY n.nt),
         |f2 AS (SELECT f1.doc_id, f1.quality
         |       FROM f1 JOIN norm n USING (doc_id)
         |       JOIN grp g ON n.nt = g.nt AND f1.doc_id = g.keep_id),
         |sims AS (${simhashCoreSqlOver("documents d JOIN f2 USING (doc_id)")}),
         |prs AS (SELECT a.doc_id AS u, b.doc_id AS v
         |        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
         |reach(u, v) AS (SELECT u, v FROM edges
         |                UNION
         |                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |rep AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         |keep AS (SELECT f2.doc_id, f2.quality
         |         FROM f2 LEFT JOIN rep r USING (doc_id)
         |         WHERE COALESCE(LEAST(r.mn, f2.doc_id), f2.doc_id) = f2.doc_id)
         |SELECT doc_id, quality,
         |       CASE WHEN bkt < 8 THEN 'train' WHEN bkt = 8 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, quality,
         |             ${h56Sql("CAST(doc_id AS VARCHAR)")} % 10 AS bkt FROM keep) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // fanned out: seven regex scans per row over a one-split file
      val docs = Q.fanOut(table(s, d, "documents"))
      def cnt(c: org.apache.spark.sql.Column, pat: String) =
        regexp_count(c, lit(pat)).cast("long")
      val en = cnt(lower(col("text")), "\\b(the|a|of|to|is|and)\\b")
      val de = cnt(lower(col("text")), "\\b(der|die|das|und|ist)\\b")
      val es = cnt(lower(col("text")), "\\b(el|la|de|que|es)\\b")
      val fr = cnt(lower(col("text")), "\\b(le|les|et|est|une)\\b")
      val quality = lit(0.4) * least(
          regexp_count(col("text"), lit("\\S+")).cast("double") / 50, lit(1.0)) +
        lit(0.3) * (lit(1.0) -
          regexp_count(col("text"), lit("[.,;:!?]")).cast("double") / length(col("text"))) +
        lit(0.3) * least(
          regexp_count(lower(col("text")), lit("\\b(the|a|of|to|is|and)\\b"))
            .cast("double") / 10, lit(1.0))
      // persisted: THREE consumers (the exact-dedup aggregate, the join
      // back, and the simhash semi-join) would each re-run the seven
      // regex kernels — and the quality filter's pushdown through the
      // projection doubles the quality regexes even within one consumer.
      // O(surviving docs) rows; released by the harness clearCache.
      val f1 = docs
        .where(en >= greatest(de, es, fr, lit(1L)))
        .select(col("doc_id"), quality.as("quality"),
          trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ")).as("nt"))
        .where(col("quality") >= 0.7)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // exact dedup: hash aggregate + equi-join back (no sort window)
      val grp = f1.groupBy(col("nt")).agg(min(col("doc_id")).as("keep_id"))
      val f2 = f1.join(grp,
          f1("nt") === grp("nt") && f1("doc_id") === grp("keep_id"))
        .select(f1("doc_id"), col("quality"))
      val sims = simhashSpark(s, d).join(f2.select("doc_id"), Seq("doc_id"))
      val pairs = graft.operators.SimHashBands
        .hammingPairs(sims, "doc_id", maxDist = 2)
      val labels = graft.operators.ConnectedComponents
        .labels(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      f2.join(labels, Seq("doc_id"), "left")
        .where(coalesce(col("rep"), col("doc_id")) === col("doc_id"))
        .withColumn("bkt", pmod(h56(col("doc_id").cast("string")), lit(10L)))
        .select(col("doc_id"), col("quality"),
          when(col("bkt") < 8, "train").when(col("bkt") === 8, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // ---- PII scan (operators.PiiScan) ----------------------------------
    // Compliance scan of a corpus: per-source counts of leaked emails /
    // IPv4s / phone numbers. The synthetic corpus is clean, so both
    // engines INJECT identical deterministic PII first (doc_id-keyed, so
    // the fixture stays untouched); detection is then PiiScan's
    // regex-per-category codegen projections — patterns constrained to
    // the Java-regex ∩ RE2 subset so DuckDB replays every count exactly.
    Entry("q112_pii_scan", Some {
      import graft.operators.PiiScan
      val pats = PiiScan.Patterns.toMap
      s"""WITH aug AS (SELECT source, doc_id,
         |  text
         |  || CASE WHEN doc_id % 7 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)
         |          || '@example.com now' ELSE '' END
         |  || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
         |          || '.' || CAST(doc_id % 250 AS VARCHAR) || '.7 up' ELSE '' END
         |  || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
         |          || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' soon' ELSE '' END AS t
         |  FROM documents),
         |cnt AS (SELECT source,
         |  CAST(len(regexp_extract_all(t, '${pats("emails")}')) AS BIGINT) AS emails,
         |  CAST(len(regexp_extract_all(t, '${pats("ips")}')) AS BIGINT) AS ips,
         |  CAST(len(regexp_extract_all(t, '${pats("phones")}')) AS BIGINT) AS phones
         |  FROM aug)
         |SELECT source, count(*) AS docs,
         |       CAST(sum(CASE WHEN emails + ips + phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_with_pii,
         |       CAST(sum(emails) AS BIGINT) AS emails,
         |       CAST(sum(ips) AS BIGINT) AS ips,
         |       CAST(sum(phones) AS BIGINT) AS phones
         |FROM cnt GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      import graft.operators.PiiScan
      val aug = table(s, d, "documents").select(col("source"), concat(
        col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact u"),
          col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" host 10."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 250).cast("string"), lit(".7 up"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" call 555-"),
          (lit(100L) + col("doc_id") % 900).cast("string"), lit("-"),
          (lit(1000L) + col("doc_id") % 9000).cast("string"), lit(" soon")))
          .otherwise(lit(""))).as("t"))
      PiiScan.scan(aug, "t")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("pii_total") > 0, 1L).otherwise(0L)).cast("long").as("docs_with_pii"),
          sum(col("emails")).cast("long").as("emails"),
          sum(col("ips")).cast("long").as("ips"),
          sum(col("phones")).cast("long").as("phones"))
        .orderBy(col("source"))
    },

    // ---- KMV distinct sketch + set algebra (functions.KmvSketch) -------
    // Per-source vocabulary cardinality from an O(k) mergeable sketch,
    // plus EXACT set algebra across sketches: the union sketch of two
    // sources is the merge of their sketches (the k smallest of a union
    // are a subset of the union of the k smallest), and the intersection
    // estimate follows by inclusion–exclusion. The oracle replays the
    // sketch literally — "the k smallest distinct 56-bit hashes" — via a
    // row_number window, and the estimator is per-row IEEE arithmetic, so
    // every estimate (not just the exact counts) is hash-exact across
    // engines. exact_distinct rides along to show the estimator's error.
    Entry("q113_kmv_distinct", Some(kmvOracleSql)) { (s, d) =>
      graft.functions.KmvSketch.register(s)
      import graft.functions.KmvSketch.kmvCol
      val k = KmvK
      // per-source 3-gram shingle cardinality (the q46 shingle definition,
      // keyed by source instead of doc_id — NearDup.shingles takes any id)
      val hashed = graft.operators.NearDup
        .shingles(table(s, d, "documents"), "source", "text")
        .select(col("source"), h56(col("g")).as("h"))
      def est(sk: Column): Column =
        when(size(sk) < k, size(sk).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(72057594037927936.0) /
            element_at(sk, k).cast("double"))
      val perSk = hashed.groupBy(col("source")).agg(kmvCol(col("h"), k).as("sk"))
      val per = perSk
        .select(col("source").as("scope"), est(col("sk")).as("est_distinct"))
      val exact = hashed.distinct().groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
        .withColumnRenamed("source", "scope")
      val perRows = per.join(exact, Seq("scope"))
      // union WITHOUT rescanning the corpus: merge the two per-source
      // sketches (k smallest of their union — the KMV union law, exact).
      // The oracle replays the union by re-scanning; equality of the two
      // routes is precisely the law the gate pins.
      val uSketch = perSk.where(col("source") === "src0").select(col("sk").as("sk0"))
        .crossJoin(perSk.where(col("source") === "src1").select(col("sk").as("sk1")))
        .select(est(slice(array_sort(array_distinct(
          concat(col("sk0"), col("sk1")))), 1, k)).as("est_distinct"))
      val pairH = hashed.where(col("source").isin("src0", "src1"))
      val uExact = pairH.select(col("h")).distinct()
        .agg(count(lit(1)).as("exact_distinct"))
      val uRow = uSketch.crossJoin(uExact)
        .select(lit("union(src0,src1)").as("scope"),
          col("est_distinct"), col("exact_distinct"))
      val iExact = pairH.distinct().groupBy(col("h")).agg(count(lit(1)).as("n"))
        .where(col("n") === 2).agg(count(lit(1)).as("exact_distinct"))
      val e0 = per.where(col("scope") === "src0").select(col("est_distinct").as("e0"))
      val e1 = per.where(col("scope") === "src1").select(col("est_distinct").as("e1"))
      val eu = uSketch.select(col("est_distinct").as("eu"))
      val iRow = e0.crossJoin(e1).crossJoin(eu).crossJoin(iExact)
        .select(lit("intersect(src0,src1)").as("scope"),
          ((col("e0") + col("e1")) - col("eu")).as("est_distinct"),
          col("exact_distinct"))
      perRows.unionByName(uRow).unionByName(iRow).orderBy(col("scope"))
    },

    // ---- hard-negative mining (operators.HardNegatives) ----------------
    // Contrastive-training counterpart of q50/q96: per anchor, the k
    // HIGHEST-cosine candidates inside [0.15, 0.30) — informative
    // negatives strictly below the near-dup ceiling. Band filter before
    // ranking; ranking via the O(k) TopKScored aggregate whose tie order
    // is pinned equal to the oracle's row_number window.
    Entry("q116_hard_negatives", Some(
      s"""WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding ce FROM embeddings),
         |scored AS (
         |  SELECT qid, vec_id,
         |         ${dotSql("qe", "ce")} /
         |         sqrt(${dotSql("qe", "qe")} * ${dotSql("ce", "ce")}) AS score
         |  FROM q CROSS JOIN c WHERE vec_id != qid),
         |banded AS (SELECT * FROM scored WHERE score >= 0.15 AND score < 0.30)
         |SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM banded) t
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)) { (s, d) =>
      val e = table(s, d, "embeddings")
      graft.operators.HardNegatives.mine(
        e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), embD(col("embedding")).as("qe")),
        e.select(col("vec_id"), embD(col("embedding")).as("ce")),
        k = 10, lo = 0.15, hi = 0.30)
        .orderBy(col("qid"), col("rn"))
    },

    // ---- UNBOUNDED-anchor hard negatives (round 10) ---------------------
    // q116's mining without broadcasting the anchors: both sides bucket on
    // a centroid set and pair through a shuffle join
    // (HardNegatives.mineUnbounded). Probed in FULL here (nprobe = #
    // centroids), where the output is provably centroid-independent and
    // EXACT — so the oracle is the same relational band-rank replay, and
    // the gate pins that the no-broadcast composition loses nothing. The
    // centroids are the first three corpus vectors (deterministic; any set
    // works under full probing).
    Entry("q124_hard_negatives_unbounded", Some(
      s"""WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
         |           WHERE vec_id >= 5 AND vec_id < 17),
         |c AS (SELECT vec_id, embedding ce FROM embeddings),
         |scored AS (
         |  SELECT qid, vec_id,
         |         ${dotSql("qe", "ce")} /
         |         sqrt(${dotSql("qe", "qe")} * ${dotSql("ce", "ce")}) AS score
         |  FROM q CROSS JOIN c WHERE vec_id != qid),
         |banded AS (SELECT * FROM scored WHERE score >= 0.15 AND score < 0.30)
         |SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM banded) t
         |WHERE rn <= 8 ORDER BY qid, rn""".stripMargin)) { (s, d) =>
      val e = table(s, d, "embeddings")
      val centroids = e.where(col("vec_id") < 3).orderBy(col("vec_id"))
        .select(embD(col("embedding"))).collect()
        .map(_.getSeq[Double](0).toSeq).toSeq
      graft.operators.HardNegatives.mineUnbounded(
        e.where(col("vec_id") >= 5 && col("vec_id") < 17)
          .select(col("vec_id").as("qid"), embD(col("embedding")).as("qe")),
        e.select(col("vec_id"), embD(col("embedding")).as("ce")),
        k = 8, lo = 0.15, hi = 0.30,
        centroids = centroids, nprobe = centroids.size)
        .orderBy(col("qid"), col("rn"))
    },

    // ---- DSIR importance selection (operators.Dsir) ---------------------
    // Data Selection via Importance Resampling (Xie et al. 2023): hashed
    // unigram bag-of-words models of a TARGET corpus (doc_id % 7 = 0 — the
    // "curated" slice) and the RAW pool; every raw doc scored by its
    // log-likelihood ratio sum_b c_b * (log p_t(b) - log p_r(b)); top-200
    // kept. The log is an EXACT integer fixed-point log2 (shift-and-square,
    // 16 frac bits, Dsir.withLog2fp) over +1-smoothed counts, so the score
    // is an int64 computed with integer ops only and the oracle replays it
    // bit-exactly — the no-libm discipline q105's BM25 established, now
    // for a genuinely logarithmic statistic. The oracle's `it` CTE is the
    // same chain as RECURSIVE SQL (a lateral-alias chain would expand
    // exponentially in the binder).
    Entry("q127_dsir_selection", Some(
      s"""WITH RECURSIVE tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |             FROM documents),
         |tb AS (SELECT doc_id, ${h56Sql("w")} % $DsirBuckets AS bucket FROM tok),
         |tgt AS (SELECT bucket, count(*) AS c FROM tb WHERE doc_id % 7 = 0 GROUP BY bucket),
         |rw AS (SELECT bucket, count(*) AS c FROM tb WHERE doc_id % 7 <> 0 GROUP BY bucket),
         |st AS (SELECT bk.bucket, COALESCE(t.c, 0) + 1 AS np, COALESCE(r.c, 0) + 1 AS nq
         |       FROM (SELECT range AS bucket FROM range($DsirBuckets)) bk
         |       LEFT JOIN tgt t USING (bucket) LEFT JOIN rw r USING (bucket)),
         |vals AS (SELECT bucket, 0 AS kind, np AS n FROM st
         |         UNION ALL SELECT bucket, 1, nq FROM st
         |         UNION ALL SELECT -1, 2, CAST(sum(np) AS BIGINT) FROM st
         |         UNION ALL SELECT -1, 3, CAST(sum(nq) AS BIGINT) FROM st),
         |${graft.operators.Dsir.log2fpSqlCtes("bucket", "kind")},
         |sc AS (SELECT p.bucket, p.l - dp.l - q.l + dq.l AS score
         |       FROM (SELECT bucket, l FROM lg WHERE kind = 0) p
         |       JOIN (SELECT bucket, l FROM lg WHERE kind = 1) q USING (bucket),
         |       (SELECT l FROM lg WHERE kind = 2) dp,
         |       (SELECT l FROM lg WHERE kind = 3) dq),
         |feat AS (SELECT doc_id, bucket, count(*) AS c FROM tb WHERE doc_id % 7 <> 0 GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c * score) AS BIGINT) AS dsir_score
         |FROM feat JOIN sc USING (bucket)
         |GROUP BY doc_id ORDER BY dsir_score DESC, doc_id LIMIT 200""".stripMargin)) { (s, d) =>
      import graft.operators.Dsir
      val docs = table(s, d, "documents")
      val target = docs.where(col("doc_id") % 7 === 0)
      val rawPool = docs.where(col("doc_id") % 7 =!= 0)
      val sc = Dsir.bucketScores(target, rawPool, "text", DsirBuckets)
      Dsir.select(Dsir.scoreDocs(rawPool, sc, "doc_id", "text", DsirBuckets),
        "doc_id", 200)
    },

    // ---- DSIR Gumbel-top-k sampling (round 11) ---------------------------
    // Xie et al.'s ACTUAL selection rule is sampling ∝ importance weight,
    // not deterministic top-k: q131 draws 200 docs with probability
    // ∝ 2^score via the Gumbel-max trick — top-k of score + G with
    // G = -log2(-log2 U) in the SAME base-2 fixed point as the scores
    // (Dsir.selectGumbel). U is a seeded 40-bit integer hash of the doc
    // id and both logs reuse the exact shift-and-square chain, so the
    // DRAW ITSELF is bit-replayable: the oracle re-derives the identical
    // perturbed scores with two more recursive-CTE log chains on top of
    // q127's. Same seed ⇒ same sample on any engine or cluster size.
    Entry("q131_dsir_gumbel", Some(
      s"""WITH RECURSIVE tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |             FROM documents),
         |tb AS (SELECT doc_id, ${h56Sql("w")} % $DsirBuckets AS bucket FROM tok),
         |tgt AS (SELECT bucket, count(*) AS c FROM tb WHERE doc_id % 7 = 0 GROUP BY bucket),
         |rw AS (SELECT bucket, count(*) AS c FROM tb WHERE doc_id % 7 <> 0 GROUP BY bucket),
         |st AS (SELECT bk.bucket, COALESCE(t.c, 0) + 1 AS np, COALESCE(r.c, 0) + 1 AS nq
         |       FROM (SELECT range AS bucket FROM range($DsirBuckets)) bk
         |       LEFT JOIN tgt t USING (bucket) LEFT JOIN rw r USING (bucket)),
         |vals AS (SELECT bucket, 0 AS kind, np AS n FROM st
         |         UNION ALL SELECT bucket, 1, nq FROM st
         |         UNION ALL SELECT -1, 2, CAST(sum(np) AS BIGINT) FROM st
         |         UNION ALL SELECT -1, 3, CAST(sum(nq) AS BIGINT) FROM st),
         |${graft.operators.Dsir.log2fpSqlCtes("bucket", "kind")},
         |sc AS (SELECT p.bucket, p.l - dp.l - q.l + dq.l AS score
         |       FROM (SELECT bucket, l FROM lg WHERE kind = 0) p
         |       JOIN (SELECT bucket, l FROM lg WHERE kind = 1) q USING (bucket),
         |       (SELECT l FROM lg WHERE kind = 2) dp,
         |       (SELECT l FROM lg WHERE kind = 3) dq),
         |feat AS (SELECT doc_id, bucket, count(*) AS c FROM tb WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
         |scored AS (SELECT doc_id, CAST(sum(c * score) AS BIGINT) AS dsir_score
         |           FROM feat JOIN sc USING (bucket) GROUP BY doc_id),
         |rv AS (SELECT doc_id, ${h56Sql(s"'$DsirSeed:' || doc_id")} % 1099511627775 + 1 AS n
         |       FROM scored),
         |${graft.operators.Dsir.log2fpSqlCtesNamed("rv", "it2", "lg2", "doc_id")},
         |vv AS (SELECT doc_id, 2621440 - l AS n FROM lg2),
         |${graft.operators.Dsir.log2fpSqlCtesNamed("vv", "it3", "lg3", "doc_id")},
         |gn AS (SELECT doc_id, 1048576 - l AS g FROM lg3)
         |SELECT s.doc_id, s.dsir_score, s.dsir_score + gn.g AS dsir_gumbel
         |FROM scored s JOIN gn USING (doc_id)
         |ORDER BY dsir_gumbel DESC, doc_id LIMIT 200""".stripMargin)) { (s, d) =>
      import graft.operators.Dsir
      val docs = table(s, d, "documents")
      val target = docs.where(col("doc_id") % 7 === 0)
      val rawPool = docs.where(col("doc_id") % 7 =!= 0)
      val sc = Dsir.bucketScores(target, rawPool, "text", DsirBuckets)
      Dsir.selectGumbel(Dsir.scoreDocs(rawPool, sc, "doc_id", "text", DsirBuckets),
        "doc_id", 200, seed = DsirSeed)
    }
  )

  /** DuckDB replay of q113: the sketch is "the k smallest distinct hashes"
    * (row_number window), estimates in identical IEEE double arithmetic. */
  private lazy val kmvOracleSql: String = {
    val K = KmvK
    // 7.2057594037927936e16 = 2^56 — scientific notation so DuckDB parses
    // a DOUBLE (a plain decimal literal becomes DECIMAL and overflows)
    def est(nd: String, kth: String): String =
      s"CASE WHEN $nd < $K THEN CAST($nd AS DOUBLE) " +
        s"ELSE CAST(${K - 1} AS DOUBLE) * 7.2057594037927936e16 / CAST($kth AS DOUBLE) END"
    s"""WITH tok AS (SELECT source, string_split_regex(lower(text), '\\s+') ws
       |            FROM documents
       |            WHERE len(string_split_regex(lower(text), '\\s+')) >= 3),
       |sh AS (SELECT source,
       |              list_distinct(list_transform(range(1, len(ws) - 1),
       |                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) gs
       |       FROM tok),
       |ex AS (SELECT source, unnest(gs) g FROM sh),
       |h AS (SELECT DISTINCT source, ${h56Sql("g")} AS h FROM ex),
       |ranked AS (SELECT source, h,
       |                  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
       |                  count(*) OVER (PARTITION BY source) AS nd
       |           FROM h),
       |per AS (SELECT source AS scope,
       |               ${est("max(nd)", s"max(CASE WHEN rn = $K THEN h END)")} AS est_distinct,
       |               CAST(max(nd) AS BIGINT) AS exact_distinct
       |        FROM ranked GROUP BY source),
       |hu AS (SELECT DISTINCT h FROM h WHERE source IN ('src0','src1')),
       |rankedu AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
       |                   count(*) OVER () AS nd
       |            FROM hu),
       |peru AS (SELECT 'union(src0,src1)' AS scope,
       |                ${est("max(nd)", s"max(CASE WHEN rn = $K THEN h END)")} AS est_distinct,
       |                CAST(max(nd) AS BIGINT) AS exact_distinct
       |         FROM rankedu),
       |hi AS (SELECT h FROM h WHERE source IN ('src0','src1')
       |       GROUP BY h HAVING count(*) = 2),
       |inter AS (SELECT 'intersect(src0,src1)' AS scope,
       |                 ((SELECT est_distinct FROM per WHERE scope = 'src0')
       |                   + (SELECT est_distinct FROM per WHERE scope = 'src1'))
       |                  - (SELECT est_distinct FROM peru) AS est_distinct,
       |                 (SELECT CAST(count(*) AS BIGINT) FROM hi) AS exact_distinct)
       |SELECT scope, est_distinct, exact_distinct
       |FROM (SELECT * FROM per UNION ALL SELECT * FROM peru
       |      UNION ALL SELECT * FROM inter)
       |ORDER BY scope""".stripMargin
  }

  // ---- generated helpers ----------------------------------------------

  /** DuckDB oracle replaying the full minhash+banding+verify pipeline. */
  private lazy val minhashOracleSql: String = {
    val mhCols = (0 until NumPerm)
      .map(j => s"min(((${37L + 101L * j} * hp) + ${17L + 13L * j}) % $P) m$j").mkString(",\n         ")
    val bandJoins = (0 until NumPerm / BandSize).map { b =>
      val cond = (b * BandSize until (b + 1) * BandSize)
        .map(j => s"x.m$j = y.m$j").mkString(" AND ")
      s"SELECT x.doc_id doc_a, y.doc_id doc_b FROM mh x JOIN mh y ON $cond AND x.doc_id < y.doc_id"
    }.mkString("\n  UNION\n  ")
    s"""WITH $shinglesSql,
       |exh AS (SELECT doc_id, ${h56Sql("g")} AS g FROM ex),
       |hs AS (SELECT doc_id, g % $P hp FROM exh),
       |mh AS (SELECT doc_id,
       |         $mhCols
       |       FROM hs GROUP BY doc_id),
       |cand AS (
       |  $bandJoins
       |),
       |$jaccardPairsSql
       |SELECT p.doc_a, p.doc_b, p.jaccard
       |FROM pairs p JOIN cand c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
       |WHERE p.jaccard >= 0.2
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }

  /** (doc_id, simhash) — Spark side, unordered. The signature is the
    * [[graft.functions.Simhash56]] codegen kernel: a pure per-row map (the
    * explode → h56 → 56-column ±1 groupBy it replaced shuffled the whole
    * token table; TextOpsSpec pins the equality). At 100 TB the signature
    * stage is now embarrassingly parallel with zero shuffle. */
  private def simhashSpark(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.TextOps.register(s)
    // NOT fanned out (r17): the simhash kernel is ~µs/row — the r16
    // full-payload exchange cost more than it saved (driver: q48 0.64×);
    // at scale the scan has its own splits anyway
    table(s, d, "documents")
      .select(col("doc_id"),
        graft.functions.TextOps.simhash56Col(toksSpark(col("text"))).as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** DuckDB query computing the same 56-bit simhash (no ORDER BY) over an
    * arbitrary FROM source exposing (doc_id, text). */
  private def simhashCoreSqlOver(docSrc: String): String = {
    val bitCols = (0 until SimBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) b$j").mkString(",\n         ")
    val simExpr = (0 until SimBits)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) w
       |            FROM $docSrc),
       |hs AS (SELECT doc_id, ${h56Sql("w")} h FROM tok),
       |bits AS (SELECT doc_id,
       |         $bitCols
       |         FROM hs GROUP BY doc_id)
       |SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash
       |FROM bits""".stripMargin
  }
  private lazy val simhashCoreSql: String = simhashCoreSqlOver("documents")
}
