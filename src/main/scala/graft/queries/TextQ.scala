package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis / dedup operators over the `documents` table — the
  * training-data-pipeline surface (SURVEY.md §2 north star): token
  * statistics, quality scoring, language-ID heuristic, exact dedup,
  * fingerprinting, n-gram Jaccard near-dup, MinHash+LSH and SimHash.
  *
  * Everything is expressed with built-ins (split / transform /
  * aggregate / array_min / md5 …) and graft's native Catalyst
  * expressions (`shingle_ids`, `minhash_sig`, … — requires
  * GraftExtensions) — no UDFs. Intermediate arrays
  * (tokens → shingles → token-ids → signatures) are staged as columns
  * so each is computed once per row: Catalyst's CollapseProject leaves
  * non-cheap multi-referenced aliases in their own projection, whereas
  * inlining them into the higher-order-function lambdas would
  * re-evaluate split/md5 per element reference (measured 20×+ slower).
  * At 100 TB each document is processed exactly once in the scan
  * stage and only tiny candidate-pair streams shuffle.
  *
  * Hashes are made engine-portable by deriving integer token ids from
  * md5 hex (identical in Spark and DuckDB) instead of xxhash64 (which
  * is not portable across engines).
  */
object TextQ {

  /** Tokens of the document. */
  private val toksE = "split(trim(text), '\\\\s+')"
  private val toksD = "string_split_regex(trim(text), '\\s+')"

  /** Distinct 3-token shingles from a staged `toks` column (Spark,
    * 0-based arrays). */
  private val shsFromToks =
    """CASE WHEN size(toks) >= 3 THEN array_distinct(
      |  transform(sequence(0, size(toks) - 3),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))
      |ELSE array() END""".stripMargin
  /** Same in DuckDB (1-based arrays; range end-exclusive). */
  private val shinglesD =
    s"""list_distinct(list_transform(range(1, greatest(len($toksD) - 1, 1)),
       |  i -> $toksD[i] || ' ' || $toksD[i+1] || ' ' || $toksD[i+2]))""".stripMargin

  /** Portable 28-bit token id from md5 hex (the DuckDB mirror of the
    * native `token_ids`/`shingle_ids` hash). */
  private def tokD(t: String) =
    s"CAST(('0x' || substr(md5($t), 1, 7)) AS BIGINT)"

  /** documents with staged token/shingle columns. */
  private def withToks(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").withColumn("toks", expr(toksE))
  private def withShingles(s: SparkSession, dir: String): DataFrame =
    withToks(s, dir).withColumn("shs", expr(shsFromToks))

  /** documents spread across cores: the test parquet is one row group
    * (unsplittable scan), so per-row md5 hashing must be repartitioned
    * off the single scan task before the heavy expression runs. */
  private def spreadDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)

  /** documents with the md5-prefix shingle-id array (native
    * `shingle_ids`: one pass per row). */
  private def withShingleIds(s: SparkSession, dir: String): DataFrame =
    spreadDocs(s, dir).withColumn("sids", expr("shingle_ids(text)"))

  /** documents with the distinct md5-prefix token-id array (native
    * `token_ids`). */
  private def withTokenIds(s: SparkSession, dir: String): DataFrame =
    spreadDocs(s, dir).withColumn("tids", expr("token_ids(text)"))

  /** Occurrences of word w in text (padded, non-overlapping replace
    * trick — identical semantics in both engines). */
  private def hits(w: String) = {
    val n = w.length + 2
    s"CAST((length(' ' || text || ' ') - " +
      s"length(replace(' ' || text || ' ', ' $w ', ''))) / $n AS BIGINT)"
  }

  /** BPE-style pre-tokenizer regex (GPT-2-ish: letter runs, digit
    * runs, punctuation runs, each with optional leading space). Both
    * engines count non-overlapping matches left to right. */
  private val bpeRe = """ ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"""

  /** q28 — token counting: whitespace tokenizer + BPE-ish regex
    * pre-tokenizer + char stats. */
  def q28(s: SparkSession, dir: String): DataFrame =
    withToks(s, dir)
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        expr(s"regexp_count(text, '$bpeRe')").as("n_bpe_tokens"),
        length(col("text")).as("n_chars_actual"),
        expr("CAST(length(replace(text, ' ', '')) AS DOUBLE) / size(toks)")
          .as("avg_token_len"))
      .orderBy(col("doc_id"))

  val q28Sql: String =
    s"""SELECT doc_id, len($toksD) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '$bpeRe')) AS BIGINT)
       |    AS n_bpe_tokens,
       |  length(text) AS n_chars_actual,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($toksD)
       |    AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q29 — quality scoring: stopword density as the quality proxy
    * (length/punct/stopword-ratio class of heuristics). */
  def q29(s: SparkSession, dir: String): DataFrame = {
    val stopHits =
      s"${hits("the")} + ${hits("and")} + ${hits("of")} + ${hits("to")}"
    withToks(s, dir)
      .withColumn("stop_hits", expr(stopHits))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        col("stop_hits"),
        expr("CAST(stop_hits AS DOUBLE) / size(toks)").as("quality_score"))
      .withColumn("quality_bucket",
        when(col("quality_score") >= 0.05, "high").otherwise("low"))
      .orderBy(col("doc_id"))
  }

  val q29Sql: String = {
    val stopHits =
      s"${hits("the")} + ${hits("and")} + ${hits("of")} + ${hits("to")}"
    s"""SELECT doc_id, lang, len($toksD) AS n_tokens,
       |  $stopHits AS stop_hits,
       |  CAST($stopHits AS DOUBLE) / len($toksD) AS quality_score,
       |  CASE WHEN CAST($stopHits AS DOUBLE) / len($toksD) >= 0.05
       |    THEN 'high' ELSE 'low' END AS quality_bucket
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q30 — language-ID heuristic: stopword-marker scoring per language
    * with a deterministic priority tie-break. */
  def q30(s: SparkSession, dir: String): DataFrame = {
    val en = s"${hits("the")} + ${hits("and")}"
    val es = s"${hits("el")} + ${hits("la")}"
    val de = s"${hits("der")} + ${hits("und")}"
    val fr = s"${hits("le")} + ${hits("et")}"
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr(en).as("en_score"), expr(es).as("es_score"),
        expr(de).as("de_score"), expr(fr).as("fr_score"))
      .withColumn("predicted_lang",
        when(col("en_score") >= col("es_score") &&
          col("en_score") >= col("de_score") &&
          col("en_score") >= col("fr_score") && col("en_score") > 0, "en")
          .when(col("es_score") >= col("de_score") &&
            col("es_score") >= col("fr_score") && col("es_score") > 0, "es")
          .when(col("de_score") >= col("fr_score") &&
            col("de_score") > 0, "de")
          .when(col("fr_score") > 0, "fr")
          .otherwise("und"))
      .orderBy(col("doc_id"))
  }

  val q30Sql: String = {
    val en = s"${hits("the")} + ${hits("and")}"
    val es = s"${hits("el")} + ${hits("la")}"
    val de = s"${hits("der")} + ${hits("und")}"
    val fr = s"${hits("le")} + ${hits("et")}"
    s"""WITH scored AS (SELECT doc_id, lang,
       |  $en AS en_score, $es AS es_score,
       |  $de AS de_score, $fr AS fr_score FROM documents)
       |SELECT doc_id, lang, en_score, es_score, de_score, fr_score,
       |  CASE
       |    WHEN en_score >= es_score AND en_score >= de_score
       |      AND en_score >= fr_score AND en_score > 0 THEN 'en'
       |    WHEN es_score >= de_score AND es_score >= fr_score
       |      AND es_score > 0 THEN 'es'
       |    WHEN de_score >= fr_score AND de_score > 0 THEN 'de'
       |    WHEN fr_score > 0 THEN 'fr'
       |    ELSE 'und' END AS predicted_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** q31 — exact dedup by hash-groupBy: one representative (min doc_id)
    * per group key; the canonical map-side-combinable dedup shape. */
  def q31(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("source"))

  val q31Sql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS keep_doc_id,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** q32 — document fingerprinting: md5 content hash of the normalized
    * text plus a 60-bit numeric fingerprint (portable hex→int). Full
    * exact-dedup over content: group by fingerprint would find byte
    * duplicates; corpus has none, so we emit the fingerprint table. */
  def q32(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("fingerprint", expr("md5(lower(trim(text)))"))
      .select(col("doc_id"), col("fingerprint"),
        expr("CAST(conv(substring(fingerprint, 1, 15), 16, 10) AS BIGINT)")
          .as("fingerprint60"))
      .orderBy(col("doc_id"))

  val q32Sql: String =
    """SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
      |  CAST(('0x' || substr(md5(lower(trim(text))), 1, 15)) AS BIGINT)
      |    AS fingerprint60
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q33 — n-gram Jaccard near-dup detection, blocked by source:
    * explode distinct shingles, self-join within block, count
    * intersections, Jaccard = |∩| / (|A|+|B|-|∩|). At 100 TB the
    * blocking column bounds the pair space; the shingle join is a
    * single shuffle keyed on (block, shingle). */
  def q33(s: SparkSession, dir: String): DataFrame = {
    val docs = withShingleIds(s, dir)
      .select(col("doc_id"), col("source"), col("sids"),
        size(col("sids")).as("m"))
    val ex = docs.select(col("doc_id"), col("source"), col("m"),
      explode(col("sids")).as("sh"))
    val a = ex.select(col("doc_id").as("a_id"), col("source"),
      col("m").as("ma"), col("sh"))
    val b = ex.select(col("doc_id").as("b_id"), col("source").as("bsrc"),
      col("m").as("mb"), col("sh").as("bsh"))
    a.join(b, col("sh") === col("bsh") && col("source") === col("bsrc") &&
        col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("ma"), col("mb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("union_size", col("ma") + col("mb") - col("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / col("union_size"))
      .filter(col("jaccard") >= 0.3)
      .select(col("a_id"), col("b_id"), col("inter"), col("union_size"),
        col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q33Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    list_transform($shinglesD, t -> ${tokD("t")}) AS shs
       |  FROM documents),
       |dm AS (SELECT doc_id, source, shs, len(shs) AS m FROM d),
       |e AS (SELECT doc_id, source, m, unnest(shs) AS sh FROM dm),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.m AS ma, b.m AS mb, COUNT(*) AS inter
       |  FROM e a JOIN e b ON a.sh = b.sh AND a.source = b.source
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT a_id, b_id, inter, ma + mb - inter AS union_size,
       |  CAST(inter AS DOUBLE) / (ma + mb - inter) AS jaccard
       |FROM p
       |WHERE CAST(inter AS DOUBLE) / (ma + mb - inter) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** q34 — MinHash + LSH banding: 16 portable minhashes per document
    * (min over shingles of (a_k·x + b_k) mod p), banded 4×4; candidate
    * pairs share at least one band bucket. The LSH index IS the
    * blocking: no O(n²) pair space, one shuffle keyed on band key.
    * Token ids (md5-derived) are staged once; the 16 hash functions
    * are cheap modular arithmetic over the staged ids. */
  def q34(s: SparkSession, dir: String): DataFrame = {
    val sigs = withShingleIds(s, dir)
      .withColumn("sig", expr("minhash_sig(sids)"))
      .select(col("doc_id"), col("sig"))
    val bands = sigs.select(col("doc_id"),
        explode(expr("sequence(0, 3)")).as("band"), col("sig"))
      .select(col("doc_id"),
        expr("concat_ws(':', band, sig[4*band], sig[4*band+1], " +
          "sig[4*band+2], sig[4*band+3])").as("band_key"))
    val a = bands.select(col("doc_id").as("a_id"), col("band_key"))
    val b = bands.select(col("doc_id").as("b_id"),
      col("band_key").as("bkey"))
    a.join(b, col("band_key") === col("bkey") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** DuckDB-side portable 16-row MinHash signature (matches the
    * `minhash_sig` native bit-for-bit; proven by q34/q82 hashes). */
  private val minhashSigD =
    s"""list_transform(range(0, 16), k -> list_aggregate(
       |  list_transform(sids, x ->
       |    ((1103515245 + 12345 * k) * x + 748191 * k)
       |    % 1000000007), 'min'))""".stripMargin

  val q34Sql: String = {
    s"""WITH d AS (SELECT doc_id, $shinglesD AS shs FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, t -> ${tokD("t")}) AS sids FROM d),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  COUNT(*) AS n_shared_bands
       |FROM bands a JOIN bands b
       |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY a_id, b_id""".stripMargin
  }

  /** q35 — SimHash (16-bit) per document + near-dup pairs within the
    * same source at Hamming distance ≤ 3.
    *
    * Band-blocked candidate generation: the 16-bit hash splits into 4
    * bands of 4 bits; with ≤ 3 differing bits, the pigeonhole
    * principle guarantees at least one band matches EXACTLY, so
    * joining on (source, band, band_bits) is recall-LOSSLESS for the
    * hamming ≤ 3 predicate while bounding the pair space by band-
    * bucket occupancy — a single large `source` no longer degenerates
    * to the O(n²) all-pairs join the exhaustive oracle spells out. */
  def q35(s: SparkSession, dir: String): DataFrame = {
    val sh = withTokenIds(s, dir)
      .withColumn("simhash", expr("simhash16(tids)"))
      .select(col("doc_id"), col("source"), col("simhash"))
    val banded = sh.select(col("doc_id"), col("source"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bits", expr("shiftright(simhash, band * 4) & 15"))
    val a = banded.select(col("doc_id").as("a_id"), col("source"),
      col("simhash").as("sim_a"), col("band"), col("bits"))
    val b = banded.select(col("doc_id").as("b_id"),
      col("source").as("bsrc"), col("simhash").as("sim_b"),
      col("band").as("bband"), col("bits").as("bbits"))
    a.join(b, col("source") === col("bsrc") &&
        col("band") === col("bband") && col("bits") === col("bbits") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("sim_a"), col("sim_b"))
      .distinct() // a pair may agree in several bands
      .withColumn("hamming",
        expr("bit_count(sim_a ^ sim_b)").cast("int"))
      .filter(col("hamming") <= 3)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q35Sql: String = {
    val simhashD =
      s"""CAST(list_sum(list_transform(range(0, 16), j ->
         |  CASE WHEN list_sum(list_transform(tids,
         |      t -> ((t >> j) & 1) * 2 - 1)) > 0
         |  THEN 1 << j ELSE 0 END)) AS BIGINT)""".stripMargin
    s"""WITH ids AS (SELECT doc_id, source,
       |    list_transform(list_distinct($toksD), t -> ${tokD("t")}) AS tids
       |  FROM documents),
       |sh AS (SELECT doc_id, source, $simhashD AS simhash FROM ids)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  a.simhash AS sim_a, b.simhash AS sim_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sh a JOIN sh b
       |  ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** q59 — n-gram Jaccard with the hot-shingle document-frequency cap
    * (the 100 TB skew guard over q33): shingles shared by more than 25
    * documents within a source are dropped from CANDIDATE generation
    * (a k-doc stopword shingle otherwise creates k² pairs), then the
    * exact Jaccard over the FULL sets verifies the 0.3 threshold. The
    * oracle mirrors both stages, so the capped candidate set is
    * bit-identical across engines. */
  def q59(s: SparkSession, dir: String): DataFrame = {
    val staged = withShingleIds(s, dir).select(col("doc_id").as("id"),
      col("source").as("blk"), col("sids"))
    graft.ext.Dedup
      .ngramJaccardPairsFromSids(staged, threshold = 0.3,
        maxShingleDocFreq = Some(25L))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q59Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    list_transform($shinglesD, t -> ${tokD("t")}) AS sids
       |  FROM documents),
       |dm AS (SELECT doc_id, source, sids, len(sids) AS m FROM d
       |  WHERE len(sids) > 0),
       |e AS (SELECT doc_id, source, sh
       |  FROM (SELECT doc_id, source, unnest(sids) AS sh FROM dm)),
       |hot AS (SELECT source, sh FROM e
       |  GROUP BY source, sh HAVING COUNT(*) > 25),
       |kept AS (SELECT e.* FROM e
       |  WHERE NOT EXISTS (SELECT 1 FROM hot
       |    WHERE hot.source = e.source AND hot.sh = e.sh)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM kept a JOIN kept b
       |    ON a.sh = b.sh AND a.source = b.source
       |      AND a.doc_id < b.doc_id),
       |v AS (SELECT c.a_id, c.b_id, da.m AS ma, db.m AS mb,
       |    len(list_intersect(da.sids, db.sids)) AS inter
       |  FROM cand c
       |  JOIN dm da ON da.doc_id = c.a_id
       |  JOIN dm db ON db.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       |  CAST(ma + mb - inter AS BIGINT) AS union_size,
       |  CAST(inter AS DOUBLE) / (ma + mb - inter) AS jaccard
       |FROM v
       |WHERE CAST(inter AS DOUBLE) / (ma + mb - inter) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** q60 — deterministic train/val/test split
    * ([[graft.ext.Sampling.hashSplit]]): a stable md5-prefix bucket of
    * the document key, never rand() — the assignment survives corpus
    * growth, re-runs and engine changes. Scan-speed per-row
    * projection + one grouped summary. */
  def q60(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.hashSplit(
      Tables(s, dir, "documents"), "doc_id", trainPct = 80, valPct = 10)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("split"))

  val q60Sql: String =
    s"""WITH s AS (SELECT doc_id, n_chars,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 80 THEN 'train'
       |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  MIN(doc_id) AS first_doc
       |FROM s GROUP BY 1 ORDER BY split""".stripMargin

  /** q61 — sequence packing ([[graft.ext.Sampling.sequencePack]]):
    * documents concatenated per source in doc_id order and chunked
    * every 2048 whitespace tokens; each document's pack is where it
    * starts. One window aggregation keyed by source, then a grouped
    * per-pack summary. */
  def q61(s: SparkSession, dir: String): DataFrame = {
    val docs = withToks(s, dir)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    graft.ext.Sampling
      .sequencePack(docs, "source", "doc_id", "n_tokens", budget = 2048)
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("pack_id"))
  }

  val q61Sql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len($toksD) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t)
       |SELECT source,
       |  CAST(FLOOR(CAST(cum_before AS DOUBLE) / 2048) AS BIGINT)
       |    AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT)
       |    AS pack_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY source, pack_id
       |ORDER BY source, pack_id""".stripMargin

  /** q63 — benchmark decontamination: flag corpus documents sharing
    * ≥ 3 distinct 3-gram shingles with the eval set (src0 stands in
    * for the benchmark). The eval shingle set is tiny next to the
    * corpus → BROADCAST semi-side (no shuffle of the corpus side
    * beyond the per-doc aggregation); the corpus side is the staged
    * shingle explode every dedup op already uses. */
  def q63(s: SparkSession, dir: String): DataFrame = {
    val staged = withShingleIds(s, dir)
      .select(col("doc_id"), col("source"), col("sids"))
    val ev = staged.filter(col("source") === "src0")
      .select(explode(col("sids")).as("sh")).distinct()
    staged.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("sids")).as("sh"))
      .join(broadcast(ev), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"))
  }

  val q63Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    list_transform($shinglesD, t -> ${tokD("t")}) AS sids
       |  FROM documents),
       |dm AS (SELECT doc_id, source, sids FROM d WHERE len(sids) > 0),
       |ev AS (SELECT DISTINCT unnest(sids) AS sh FROM dm
       |  WHERE source = 'src0'),
       |c AS (SELECT doc_id, unnest(sids) AS sh FROM dm
       |  WHERE source <> 'src0')
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM c JOIN ev USING (sh)
       |GROUP BY doc_id HAVING COUNT(*) >= 3
       |ORDER BY doc_id""".stripMargin

  /** q64 — repetition scoring (the Gopher/MassiveText repeated-n-gram
    * quality rule): fraction of a document's 3-gram positions whose
    * shingle already occurred — pure per-row expressions, scan-speed. */
  def q64(s: SparkSession, dir: String): DataFrame =
    withShingles(s, dir)
      .withColumn("n_total",
        greatest(size(col("toks")) - 2, lit(0)).cast("long"))
      .select(col("doc_id"), col("n_total"),
        size(col("shs")).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_total") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_total"))
          .otherwise(lit(0.0)))
      .withColumn("repetitive", col("rep_ratio") > 0.2)
      .orderBy(col("doc_id"))

  val q64Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |m AS (SELECT doc_id,
       |    CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_total,
       |    CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(
       |      list_transform(range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
       |      ELSE 0 END AS BIGINT) AS n_distinct
       |  FROM t)
       |SELECT doc_id, n_total, n_distinct,
       |  CASE WHEN n_total > 0
       |    THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_total
       |    ELSE 0.0 END AS rep_ratio,
       |  CASE WHEN n_total > 0
       |    THEN (1.0 - CAST(n_distinct AS DOUBLE) / n_total) > 0.2
       |    ELSE FALSE END AS repetitive
       |FROM m ORDER BY doc_id""".stripMargin

  /** q65 — document chunking ([[graft.ext.TextAnalysis.tokenChunks]]):
    * overlapping 64-token windows every 48 tokens (16-token overlap) —
    * the RAG/pretraining chunker. Per-row expression + posexplode;
    * chunk content surfaces as an md5 so the result stays narrow. */
  def q65(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.ext.TextAnalysis
          .tokenChunks(col("text"), width = 64, step = 48))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val q65Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |x AS (SELECT doc_id, toks,
       |    unnest(range(0, CAST(floor((len(toks) - 1) / 48.0)
       |      AS BIGINT) + 1)) AS chunk_idx
       |  FROM t),
       |c AS (SELECT doc_id, chunk_idx,
       |    toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS chunk
       |  FROM x)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** q62 — weighted dataset mixing ([[graft.ext.Sampling.mixOrder]]):
    * src0 at 4×, src1 at 2×, rest at 1×; the first 200 documents of
    * the deterministic interleave, summarized per source. The prefix
    * read is ORDER BY mix_pos LIMIT n — a distributed TakeOrdered,
    * no global row_number. */
  def q62(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.mixOrder(Tables(s, dir, "documents"),
      "source", "doc_id", Map("src0" -> 4.0, "src1" -> 2.0))
      .orderBy(col("mix_pos"), col("source"), col("doc_id"))
      .limit(200)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))

  val q62Sql: String =
    s"""WITH r AS (SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
       |      AS rn
       |  FROM documents),
       |p AS (SELECT source, doc_id, (rn - 0.5) /
       |    CASE source WHEN 'src0' THEN 4.0 WHEN 'src1' THEN 2.0
       |      ELSE 1.0 END AS mix_pos
       |  FROM r),
       |top AS (SELECT source, doc_id FROM p
       |  ORDER BY mix_pos, source, doc_id LIMIT 200)
       |SELECT source, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
       |FROM top GROUP BY source ORDER BY source""".stripMargin

  /** q66 — deterministic stratified sampling
    * ([[graft.ext.Sampling.stratifiedSample]]): rebalance the corpus by
    * language — keep all English, half the German/French, a quarter of
    * the rest — via the stable md5 bucket, never RNG, so the kept set
    * survives re-runs and corpus growth. Scan-speed per-row filter +
    * one grouped summary. */
  def q66(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.stratifiedSample(Tables(s, dir, "documents"),
      "lang", "doc_id", Map("en" -> 100, "de" -> 50, "fr" -> 50),
      defaultPct = 25)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))

  val q66Sql: String =
    s"""WITH s AS (SELECT lang, doc_id, n_chars,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 100 AS bucket
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_kept,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  MIN(doc_id) AS first_doc
       |FROM s
       |WHERE bucket < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50
       |  WHEN 'fr' THEN 50 ELSE 25 END
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** q67 — document-frequency boilerplate pruning
    * ([[graft.ext.TextAnalysis.dfPrune]]): tokens present in ≥ 4/5 of
    * all documents are boilerplate and get removed from every document
    * in place, order preserved. One vocabulary-bounded aggregation
    * finds the common set, which broadcasts back as an array column —
    * the corpus never shuffles. Integer-exact threshold (df·5 ≥ n·4)
    * so no float boundary can disagree across engines. */
  def q67(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.dfPrune(
      Tables(s, dir, "documents"), "text", num = 4, den = 5)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        col("cleaned"))
      .orderBy(col("doc_id"))

  val q67Sql: String =
    s"""WITH tot AS (SELECT COUNT(*) AS n FROM documents),
       |w AS (SELECT DISTINCT doc_id, unnest($toksD) AS tok
       |  FROM documents),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM w GROUP BY tok),
       |common AS (SELECT coalesce(list(tok), []) AS ws
       |  FROM dfreq, tot WHERE df * 5 >= n * 4),
       |c AS (SELECT d.doc_id, $toksD AS toks,
       |    list_filter($toksD, t -> NOT list_contains(cw.ws, t)) AS kept
       |  FROM documents d CROSS JOIN common cw)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
       |  CAST(len(kept) AS BIGINT) AS n_after,
       |  array_to_string(kept, ' ') AS cleaned
       |FROM c ORDER BY doc_id""".stripMargin

  /** q68 — unicode text normalization
    * ([[graft.ext.TextAnalysis.normalizeText]] over the native
    * [[graft.functions.NfcNormalize]] expression — Spark has no
    * built-in normalizer): whitespace collapse → trim → lowercase →
    * NFC composition. A decomposed prefix ("Cafe" + COMBINING ACUTE +
    * two spaces) is grafted onto each document so both the composition
    * (é arrives as two codepoints, leaves as one) and the whitespace
    * collapse provably fire under the oracle. Scan-speed per-row. */
  def q68(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("norm", graft.ext.TextAnalysis.normalizeText(
        concat(lit("Cafe\u0301  "), col("text"))))
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("n_norm_chars"),
        substring(col("norm"), 1, 40).as("prefix"),
        md5(col("norm")).as("norm_hash"))
      .orderBy(col("doc_id"))

  val q68Sql: String =
    s"""SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_norm_chars,
       |  substr(norm, 1, 40) AS prefix, md5(norm) AS norm_hash
       |FROM (SELECT doc_id, nfc_normalize(lower(trim(regexp_replace(
       |    'Cafe' || chr(769) || '  ' || text, '\\s+', ' ', 'g'))))
       |    AS norm
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** q70 — Gopher/MassiveText-style quality filter rules: token-count
    * bounds, mean-word-length bounds, mandatory stopword presence —
    * each a pure per-row expression (scan-speed), composed into one
    * keep decision. The raw mean word length feeds the comparisons
    * (bit-identical doubles in both engines); only the OUTPUT value is
    * fixed-point rounded. */
  def q70(s: SparkSession, dir: String): DataFrame =
    withToks(s, dir)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("mwl",
        expr("CAST(length(replace(text, ' ', '')) AS DOUBLE) / size(toks)"))
      .withColumn("the_hits", expr(hits("the")))
      .select(col("doc_id"), col("n_tokens"),
        expr("CAST(ROUND(mwl * 1e4) AS BIGINT)").as("mwl_fp"),
        (col("n_tokens") >= 30 && col("n_tokens") <= 80).as("len_ok"),
        (col("mwl") >= 3.8 && col("mwl") <= 4.6).as("mwl_ok"),
        (col("the_hits") >= 1).as("stop_ok"))
      .withColumn("keep",
        col("len_ok") && col("mwl_ok") && col("stop_ok"))
      .orderBy(col("doc_id"))

  val q70Sql: String =
    s"""WITH m AS (SELECT doc_id,
       |    CAST(len($toksD) AS BIGINT) AS n_tokens,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($toksD)
       |      AS mwl,
       |    ${hits("the")} AS the_hits
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       |  CAST(ROUND(mwl * 1e4) AS BIGINT) AS mwl_fp,
       |  n_tokens BETWEEN 30 AND 80 AS len_ok,
       |  mwl >= 3.8 AND mwl <= 4.6 AS mwl_ok,
       |  the_hits >= 1 AS stop_ok,
       |  (n_tokens BETWEEN 30 AND 80) AND mwl >= 3.8 AND mwl <= 4.6
       |    AND the_hits >= 1 AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  /** q71 — corpus head-of-distribution via the Misra–Gries sketch
    * ([[graft.functions.HeavyHitters]], §2.10 TypedImperativeAggregate):
    * top-10 tokens by frequency WITHOUT a full `GROUP BY token` — each
    * partition builds a 256-counter summary, k rows per partition
    * shuffle, merges are the mergeable-summaries rule. Counts are
    * exact whenever the vocabulary fits the capacity (31 ≤ 256 here),
    * which is what the exact-count oracle checks; at 100 TB the same
    * plan sketches a billion-token vocabulary in bounded memory. */
  def q71(s: SparkSession, dir: String): DataFrame =
    withToks(s, dir).select(explode(col("toks")).as("tok"))
      .agg(expr("heavy_hitters(tok, 256)").as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.tok").as("tok"), col("h.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(10)

  val q71Sql: String =
    s"""WITH w AS (SELECT unnest($toksD) AS tok FROM documents)
       |SELECT tok, COUNT(*) AS cnt FROM w GROUP BY tok
       |ORDER BY cnt DESC, tok LIMIT 10""".stripMargin

  /** q73 — span-level boilerplate dedup ([[graft.ext.Dedup.spanStats]]):
    * non-overlapping 3-token spans occurring in ≥ 3 distinct documents
    * are boilerplate; per-document keep ratio after removing them —
    * the CCNet/RefinedWeb repeated-line rule. Spans travel as 56-bit
    * md5-prefix ids (narrow shuffle), the boilerplate set joins back
    * LEFT SEMI (AQE-broadcast at this df-capped size). */
  def q73(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup
      .spanStats(Tables(s, dir, "documents"), "text", "doc_id",
        width = 3, minDocs = 3)
      .select(col("id").as("doc_id"), col("n_segments"),
        col("n_boiler"), col("keep_ratio"))
      .orderBy(col("doc_id"))

  val q73Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |m AS (SELECT doc_id,
       |    CAST(CASE WHEN len(toks) >= 3 THEN floor(len(toks) / 3)
       |      ELSE 0 END AS BIGINT) AS nseg, toks
       |  FROM t),
       |sg AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(array_to_string(
       |      toks[(i-1)*3+1 : (i-1)*3+3], ' ')), 1, 14)) AS BIGINT)
       |      AS sid
       |  FROM m, UNNEST(range(1, nseg + 1)) AS u(i) WHERE nseg > 0),
       |bl AS (SELECT sid FROM (SELECT sid, COUNT(DISTINCT doc_id) AS nd
       |    FROM sg GROUP BY sid) WHERE nd >= 3),
       |bc AS (SELECT doc_id, COUNT(*) AS n_boiler FROM sg
       |  JOIN bl USING (sid) GROUP BY doc_id)
       |SELECT m.doc_id, nseg AS n_segments,
       |  CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
       |  CASE WHEN nseg > 0
       |    THEN 1.0 - CAST(COALESCE(n_boiler, 0) AS DOUBLE) / nseg
       |    ELSE 1.0 END AS keep_ratio
       |FROM m LEFT JOIN bc USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q74 — Bloom-prefiltered decontamination
    * ([[graft.ext.Decontaminate.contaminated]]): corpus documents
    * sharing ≥ 1 verbatim word-4-gram with the eval set (src0). The
    * eval set's n-gram ids pack into a serialized Bloom filter probed
    * at scan speed by Spark's codegen'd `BloomFilterMightContain`
    * (the InjectRuntimeFilter machinery); only ~fpp survivors reach
    * the broadcast exact-verify join, so the result is EXACT and the
    * oracle hash-matches. (Real pipelines use 13-grams — GPT-3 rule —
    * `n` is a parameter; the synthetic corpus needs 4 to share any.) */
  def q74(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.ext.Decontaminate.contaminated(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 4)
      .select(col("id").as("doc_id"), col("n_shared"))
      .orderBy(col("doc_id"))
  }

  val q74Sql: String =
    s"""WITH t AS (SELECT doc_id, source, $toksD AS toks FROM documents),
       |g AS (SELECT doc_id, source, unnest(list_distinct(
       |    list_transform(range(1, greatest(len(toks) - 2, 1)),
       |      i -> CAST(('0x' || substr(md5(array_to_string(
       |        toks[i : i+3], ' ')), 1, 14)) AS BIGINT)))) AS sid
       |  FROM t),
       |ev AS (SELECT DISTINCT sid FROM g WHERE source = 'src0')
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM g JOIN ev USING (sid)
       |WHERE source <> 'src0'
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q76 — BPE merge-candidate statistics
    * ([[graft.ext.TextAnalysis.bpePairCounts]]): the 20 most frequent
    * adjacent token pairs — one tokenizer-training round. Scan-stage
    * explode + one map-side-combinable aggregation + TakeOrdered. */
  def q76(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis
      .bpePairCounts(Tables(s, dir, "documents"), "text")
      .orderBy(col("cnt").desc, col("pair")).limit(20)

  val q76Sql: String =
    s"""WITH t AS (SELECT $toksD AS toks FROM documents),
       |p AS (SELECT unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS pair
       |  FROM t WHERE len(toks) >= 2)
       |SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair
       |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** q77 — TF-IDF top terms ([[graft.ext.TextAnalysis.tfIdfTop]]):
    * the 3 highest-scoring terms per document under the exact
    * n_docs/df idf surrogate (no libm log — bit-stable across
    * engines). One (doc, tok) aggregation, one vocabulary-bounded df
    * aggregation, a broadcast 1-row total, one per-doc window. */
  def q77(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis
      .tfIdfTop(Tables(s, dir, "documents"), "text", "doc_id", k = 3)
      .select(col("id").as("doc_id"), col("tok"), col("tf"),
        col("df"), col("score"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))

  val q77Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
       |  GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |tot AS (SELECT COUNT(*) AS n_docs FROM t),
       |s AS (SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
       |    CAST(tf.tf AS DOUBLE) * tot.n_docs / dfreq.df AS score
       |  FROM tf JOIN dfreq USING (tok) CROSS JOIN tot),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, tok) AS rn FROM s)
       |SELECT doc_id, tok, tf, df, score, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** q80 — cross-source duplication matrix (the curation diagnostic
    * "how much of source A is copied in source B"): documents sharing
    * a PREFIX fingerprint (md5 of the first 8 tokens — catches the
    * truncation/extension copies exact whole-document hashing misses)
    * across different sources, counted per ordered source pair. One
    * per-(source, fp) distinct, then the equi-join explodes only
    * within tiny same-fingerprint groups — the corpus never
    * self-joins at large. */
  def q80(s: SparkSession, dir: String): DataFrame = {
    val fp = withToks(s, dir)
      .select(col("source"),
        md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("fp"))
    val bySrc = fp.distinct() // one row per (source, fp)
    bySrc.as("a").join(bySrc.as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared_prefixes"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q81 — INCREMENTAL exact dedup ([[graft.ext.Dedup.exactIncremental]],
    * the streaming-ingest dedup shape): the corpus arrives as two
    * batches (doc_id split at 50% of the table); batch 2 dedups
    * against a fingerprint INDEX built from batch 1 — the historical
    * text is never re-read, and a duplicate's keep_id points at the
    * batch-1 winner. Output is batch 2's annotation. The index is a
    * graft table (atomic commits, replay-safe txn markers) created
    * fresh per run so the query stays deterministic. */
  def q81(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q81_idx")
    // the index append inside exactIncremental is EAGER (CdcTable
    // .append is an action); the returned annotation frame is lazy
    // and unread for batch 1 — don't force it
    graft.ext.Dedup.exactIncremental(
      docs.filter(col("doc_id") < cut), "text", "doc_id", idx)
    graft.ext.Dedup.exactIncremental(
      docs.filter(col("doc_id") >= cut), "text", "doc_id", idx)
      .select(col("doc_id"), col("keep_id"), col("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  val q81Sql: String =
    """WITH d AS (SELECT doc_id, md5(COALESCE(lower(trim(text)), '')) AS fp
      |  FROM documents),
      |cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS c
      |  FROM documents),
      |b1 AS (SELECT fp, MIN(doc_id) AS k FROM d, cut
      |  WHERE doc_id < c GROUP BY fp),
      |b2 AS (SELECT fp, MIN(doc_id) AS k FROM d, cut
      |  WHERE doc_id >= c GROUP BY fp)
      |SELECT d.doc_id, COALESCE(b1.k, b2.k) AS keep_id,
      |  d.doc_id <> COALESCE(b1.k, b2.k) AS is_duplicate
      |FROM d LEFT JOIN b1 USING (fp) LEFT JOIN b2 USING (fp), cut
      |WHERE d.doc_id >= c ORDER BY d.doc_id""".stripMargin

  /** q82 — INCREMENTAL near-dup ([[graft.ext.Dedup.nearIncremental]]):
    * batch 2 (doc_id ≥ cut) LSH-matches against the SIGNATURE index
    * built from batch 1 — the historical text is gone; only band keys
    * and 16-row signatures remain on disk. Pairs carry the shared-band
    * count and the signature-ESTIMATED jaccard (the streaming
    * verification tradeoff). NO explicit hot-bucket cap anywhere: the
    * probe derives `max(64, ceil(sqrt(n_docs)))` from the index
    * manifest ([[graft.ext.Dedup.autoBandDocFreq]]) and the oracle
    * mirrors the same formula + exclusion in SQL. Oracle: batch-global
    * q34-style banding restricted to pairs whose higher id is in
    * batch 2 — incremental banding over an id-split corpus discovers
    * exactly those pairs. */
  def q82(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q82_idx")
    // index append is eager inside nearIncremental; batch 1's pair
    // frame is lazy and unread — don't force it
    graft.ext.Dedup.nearIncremental(
      docs.filter(col("doc_id") < cut), "text", "doc_id", idx)
    graft.ext.Dedup.nearIncremental(
      docs.filter(col("doc_id") >= cut), "text", "doc_id", idx)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q82Sql: String =
    s"""WITH d AS (SELECT doc_id, $shinglesD AS shs FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, t -> ${tokD("t")}) AS sids
       |  FROM d WHERE len(shs) > 0),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS c
       |  FROM documents),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |cap AS (SELECT GREATEST(64, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))
       |    AS v FROM ids),
       |hot AS (SELECT band_key FROM bands GROUP BY band_key
       |  HAVING COUNT(*) > (SELECT v FROM cap)),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    COUNT(*) AS n_shared_bands
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id, cut
       |  WHERE b.doc_id >= c
       |    AND a.band_key NOT IN (SELECT band_key FROM hot)
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, n_shared_bands,
       |  CAST(len(list_filter(list_transform(range(0, 16),
       |    k -> sa.sig[k+1] = sb.sig[k+1]), v -> v)) AS DOUBLE) / 16
       |    AS est_jaccard
       |FROM p JOIN sigs sa ON sa.doc_id = p.a_id
       |  JOIN sigs sb ON sb.doc_id = p.b_id
       |ORDER BY a_id, b_id""".stripMargin

  val q80Sql: String =
    s"""WITH f AS (SELECT DISTINCT source,
       |    md5(array_to_string($toksD[1:8], ' ')) AS fp
       |  FROM documents)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  COUNT(*) AS n_shared_prefixes
       |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
       |GROUP BY a.source, b.source
       |ORDER BY src_a, src_b""".stripMargin

  /** q89 — corpus-supported bigram coverage
    * ([[graft.ext.TextAnalysis.bigramCoverage]]): the fraction of each
    * document's bigram positions whose bigram appears in ≥ 3 distinct
    * documents — the corpus-statistics stand-in for LM-perplexity
    * quality filtering, in exact integer arithmetic (one IEEE double
    * division at the end, bit-identical across engines). */
  def q89(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis
      .bigramCoverage(Tables(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy(col("doc_id"))

  val q89Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |bgx AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
       |freq AS (SELECT bg FROM (SELECT bg, COUNT(DISTINCT doc_id) AS dfd
       |    FROM bgx GROUP BY bg) WHERE dfd >= 3),
       |cov AS (SELECT doc_id, COUNT(*) AS n_covered
       |    FROM bgx JOIN freq USING (bg) GROUP BY doc_id),
       |tot AS (SELECT doc_id, GREATEST(len(toks) - 1, 0) AS n_bigrams
       |    FROM t)
       |SELECT tot.doc_id AS doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |  COALESCE(n_covered, 0) AS n_covered,
       |  CASE WHEN n_bigrams > 0 THEN
       |    CAST(COALESCE(n_covered, 0) AS DOUBLE) / n_bigrams
       |  END AS coverage
       |FROM tot LEFT JOIN cov ON tot.doc_id = cov.doc_id
       |ORDER BY doc_id""".stripMargin

  /** q92 — BM25 full-text retrieval
    * ([[graft.ext.TextAnalysis.bm25TopK]]): top-10 documents for the
    * query "vector hash join merge" under BM25 weighting with the
    * exact-rational idf surrogate (no libm `ln` — q77's trick) and
    * 1e9 fixed-point per-term scores summed as BIGINT, so ranking is
    * bit-stable across engines and summation orders. */
  def q92(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis
      .bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        "vector hash join merge", k = 10)
      .select(col("id").as("doc_id"), col("n_terms_hit"),
        col("score_fp"), col("score"))

  val q92Sql: String = bm25FullScanSql("")

  /** The full-corpus BM25 oracle, optionally restricted to a
    * surviving-document predicate — the recreate-from-current-state
    * formulation every lexical-index gate compares against (probe ≡
    * full scan of whatever documents remain). */
  private def bm25FullScanSql(where: String): String = {
    val termFp = graft.ext.TextAnalysis.bm25TermFpSql(1.2, 0.75)
    s"""WITH st AS (SELECT doc_id AS id, $toksD AS toks FROM documents
       |  $where),
       |sl AS (SELECT id, toks, CAST(len(toks) AS BIGINT) AS dl FROM st),
       |tot AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS tot_len FROM sl),
       |tfq AS (SELECT id, dl, tok, COUNT(*) AS tf
       |  FROM (SELECT id, dl, unnest(toks) AS tok FROM sl)
       |  WHERE tok IN ('vector', 'hash', 'join', 'merge')
       |  GROUP BY id, dl, tok),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM tfq GROUP BY tok),
       |sc AS (SELECT tfq.id, $termFp AS term_fp
       |  FROM tfq JOIN dfreq USING (tok) CROSS JOIN tot),
       |agg AS (SELECT id, CAST(SUM(term_fp) AS BIGINT) AS score_fp,
       |    COUNT(*) AS n_terms_hit FROM sc GROUP BY id)
       |SELECT id AS doc_id, n_terms_hit, score_fp,
       |  CAST(score_fp AS DOUBLE) / 1e9 AS score
       |FROM agg ORDER BY score_fp DESC, id LIMIT 10""".stripMargin
  }

  /** q93 — HYBRID retrieval via reciprocal-rank fusion
    * ([[graft.ext.TextAnalysis.rrfFuse]]): the BM25 top-10 (q92's
    * lexical ranking) fused with the vector top-10 (q36's cosine
    * ranking, query vector 0) by summed 1/(60 + rank) — fixed-pointed
    * at 1e12, so fusion is bit-deterministic. Documents and embeddings
    * share the id space by construction of the test corpus; ids
    * surfaced by BOTH rankers (n_rankers = 2) rise to the top. */
  def q93(s: SparkSession, dir: String): DataFrame = {
    // top-k legs: rank AFTER an explicit TakeOrdered limit, with NO
    // window at all — an UNPARTITIONED row_number over the full
    // scored leg would plan a single-partition WindowExec over every
    // row (the r16-verdict #2 scale-killer; Spark's
    // LimitPushDownThroughWindow happened to rescue the old shape
    // only because the rnk filter was pushable, and a constant
    // partition spec is folded away, WindowExec warning included).
    // The closed top-10 set, sorted in ONE partition by the same
    // total order, ranks 1..n via the per-partition-sequential
    // monotonically_increasing_id — identical ranks by construction.
    def rank10(df: DataFrame, order: Seq[org.apache.spark.sql.Column])
    : DataFrame = df
      .orderBy(order: _*).limit(10)
      .coalesce(1).sortWithinPartitions(order: _*)
      .withColumn("rnk", (monotonically_increasing_id() + 1L)
        .cast("int"))
    val lex = rank10(graft.ext.TextAnalysis
      .bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        "vector hash join merge", k = 10),
      Seq(col("score_fp").desc, col("id")))
    val emb = Tables(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val vec = rank10(
      emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          expr(graft.ext.Similarity.dotSql("embedding", "qe"))
            .as("s")),
      Seq(col("s").desc, col("id")))
    graft.ext.TextAnalysis.rrfFuse(Seq(lex, vec), "id", "rnk", k = 10)
      .select(col("id").as("doc_id"), col("n_rankers"), col("rrf_fp"),
        col("rrf"))
  }

  val q93Sql: String = {
    val termFp = graft.ext.TextAnalysis.bm25TermFpSql(1.2, 0.75)
    s"""WITH st AS (SELECT doc_id AS id, $toksD AS toks FROM documents),
       |sl AS (SELECT id, toks, CAST(len(toks) AS BIGINT) AS dl FROM st),
       |tot AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS tot_len FROM sl),
       |tfq AS (SELECT id, dl, tok, COUNT(*) AS tf
       |  FROM (SELECT id, dl, unnest(toks) AS tok FROM sl)
       |  WHERE tok IN ('vector', 'hash', 'join', 'merge')
       |  GROUP BY id, dl, tok),
       |dfreq AS (SELECT tok, COUNT(*) AS df FROM tfq GROUP BY tok),
       |sc AS (SELECT tfq.id, $termFp AS term_fp
       |  FROM tfq JOIN dfreq USING (tok) CROSS JOIN tot),
       |bm AS (SELECT id, CAST(SUM(term_fp) AS BIGINT) AS score_fp
       |  FROM sc GROUP BY id),
       |lex AS (SELECT id, ROW_NUMBER() OVER
       |    (ORDER BY score_fp DESC, id) AS rnk
       |  FROM bm ORDER BY score_fp DESC, id LIMIT 10),
       |vq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |vs AS (SELECT vec_id AS id,
       |    ${graft.queries.EmbeddingQ.dotD("embedding", "qe")} AS s
       |  FROM embeddings, vq WHERE vec_id <> 0),
       |vec AS (SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rnk
       |  FROM vs ORDER BY s DESC, id LIMIT 10),
       |u AS (SELECT id, rnk FROM lex UNION ALL SELECT id, rnk FROM vec),
       |f AS (SELECT id,
       |    CAST(SUM(CAST(ROUND(1e12 / (60 + rnk)) AS BIGINT)) AS BIGINT)
       |      AS rrf_fp,
       |    COUNT(*) AS n_rankers FROM u GROUP BY id)
       |SELECT id AS doc_id, n_rankers, rrf_fp,
       |  CAST(rrf_fp AS DOUBLE) / 1e12 AS rrf
       |FROM f ORDER BY rrf_fp DESC, id LIMIT 10""".stripMargin
  }

  /** q94 — canonical-representative selection over MinHash near-dup
    * clusters ([[graft.ext.Dedup.canonicalByQuality]]): the full
    * near-dup pipeline (shingle MinHash → 4-band LSH → exact-Jaccard
    * verify at the 0.8 default → connected components) resolved to
    * one KEPT doc per cluster by quality (longest `n_chars`, ties to
    * the smallest id) — the curation policy real pipelines want
    * instead of keep-lowest-id. The oracle replays every stage in
    * SQL, including the cluster labeling as a recursive transitive
    * closure, so the Spark large-star/small-star CC is hash-checked
    * against an independent formulation, not trusted. */
  def q94(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val res = graft.ext.Dedup.near(docs, "text", "doc_id")
    graft.ext.Dedup.canonicalByQuality(res, docs, "doc_id", "n_chars")
      .select(col("cluster_id"), col("kept_id"), col("n_members"),
        col("total_quality").as("total_chars"))
      .orderBy(col("cluster_id"))
  }

  /** Shared q94/q130 oracle body: the full MinHash → LSH → verify →
    * RECURSIVE transitive closure replay, ending at `lab(id,
    * component)` — every duplicate doc labeled with its cluster's
    * min id (no ORDER BY so it nests as a CTE prefix). */
  private val clusterBodyD: String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, $shinglesD AS shs
       |  FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, t -> ${tokD("t")}) AS sids FROM d),
       |m AS (SELECT doc_id, sids, len(sids) AS m FROM ids),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids
       |  WHERE len(sids) > 0),
       |bands AS (SELECT doc_id, concat_ws(':', band, sig[4*band+1],
       |    sig[4*band+2], sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |v AS (SELECT a_id, b_id FROM cand
       |  JOIN m ma ON ma.doc_id = a_id JOIN m mb ON mb.doc_id = b_id
       |  WHERE CAST(len(list_intersect(ma.sids, mb.sids)) AS DOUBLE) /
       |    (ma.m + mb.m - len(list_intersect(ma.sids, mb.sids)))
       |    >= 0.8),
       |sym AS (SELECT a_id AS u, b_id AS v FROM v
       |  UNION SELECT b_id, a_id FROM v),
       |reach AS (SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |  WHERE s.v <> r.u),
       |lab AS (SELECT u AS id, least(u, min(v)) AS component
       |  FROM reach GROUP BY u)""".stripMargin

  val q94Sql: String =
    s"""$clusterBodyD,
       |ranked AS (SELECT l.component, l.id, dd.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY l.component
       |      ORDER BY dd.n_chars DESC, l.id ASC) AS rn
       |  FROM lab l JOIN documents dd ON dd.doc_id = l.id)
       |SELECT component AS cluster_id,
       |  CAST(MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS kept_id,
       |  COUNT(*) AS n_members, CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM ranked GROUP BY component ORDER BY cluster_id""".stripMargin

  /** q95 — DSIR-style importance scoring
    * ([[graft.ext.TextAnalysis.importanceScores]]): every document
    * scored by the targetness of its hashed bigram features with
    * target = the English subset — exact fixed-point integer
    * arithmetic end to end, so the score (and the two-division
    * normalized importance) hash-match across engines. */
  def q95(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis
      .importanceScores(spreadDocs(s, dir), "doc_id",
        col("lang") === "en")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        col("score_fp"), col("importance"))
      .orderBy(col("doc_id"))

  /** Shared q95/q96 oracle body: the per-doc DSIR importance scores
    * (no ORDER BY so it can nest as a CTE). */
  private val importanceBodyD: String =
    s"""WITH tk AS (SELECT doc_id, lang, $toksD AS toks FROM documents),
       |bgx AS (SELECT doc_id, lang,
       |    unnest(list_transform(range(1, greatest(len(toks), 1)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS bg FROM tk),
       |f AS (SELECT doc_id, lang, ${tokD("bg")} % 65536 AS fid
       |  FROM bgx),
       |st AS (SELECT fid,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tc,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
       |      AS bc
       |  FROM f GROUP BY fid),
       |w AS (SELECT fid,
       |    CAST((1000000 * (tc + 1)) // (tc + bc + 2) AS BIGINT) AS w
       |  FROM st),
       |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(w) AS BIGINT) AS score_fp
       |  FROM f JOIN w USING (fid) GROUP BY doc_id)
       |SELECT d.doc_id AS doc_id,
       |  COALESCE(n_bigrams, 0) AS n_bigrams,
       |  COALESCE(score_fp, 0) AS score_fp,
       |  CAST(COALESCE(score_fp, 0) AS DOUBLE) /
       |    CAST(GREATEST(COALESCE(n_bigrams, 0), 1) AS DOUBLE) / 1e6
       |    AS importance
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  val q95Sql: String = s"$importanceBodyD\nORDER BY doc_id"

  /** q96 — deterministic importance RESAMPLING
    * ([[graft.ext.Sampling.importanceResample]]): the selection step
    * of DSIR over q95's scores at boost 2 — accept iff the stable
    * md5 bucket of the doc id lands under floor(1e6·min(1,
    * 2·importance)). No RNG anywhere: the kept set is a pure
    * function of the corpus, so the oracle reproduces it exactly. */
  def q96(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling
      .importanceResample(
        graft.ext.TextAnalysis.importanceScores(
          spreadDocs(s, dir), "doc_id", col("lang") === "en"),
        "id", "importance", boost = 2.0)
      .select(col("id").as("doc_id"), col("score_fp"), col("bucket"),
        col("accept_cut"))
      .orderBy(col("doc_id"))

  val q96Sql: String =
    s"""WITH scored AS ($importanceBodyD)
       |SELECT doc_id, score_fp,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |    AS BIGINT) % 1000000 AS bucket,
       |  CAST(FLOOR(1000000.0 * LEAST(1.0, 2.0 * importance))
       |    AS BIGINT) AS accept_cut
       |FROM scored
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |    AS BIGINT) % 1000000
       |  < CAST(FLOOR(1000000.0 * LEAST(1.0, 2.0 * importance))
       |    AS BIGINT)
       |ORDER BY doc_id""".stripMargin

  /** q97 — temperature-flattened language sampling
    * ([[graft.ext.Sampling.temperatureSample]]): α = 0.5 (one sqrt
    * halving), the dominant language kept at rate 0.5 and the tail
    * boosted by sqrt(n_max/n), capped at 1 — the mT5/XLM-R
    * multilingual mixing op with bit-portable rate arithmetic (sqrt
    * is IEEE-correctly-rounded in every engine; the only
    * cross-stratum reduction is an integer max). */
  def q97(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling
      .temperatureSample(Tables(s, dir, "documents"), "lang", "doc_id",
        halvings = 1, headRate = 0.5)
      .select(col("doc_id"), col("lang"), col("n_l"), col("bucket"),
        col("accept_cut"))
      .orderBy(col("doc_id"))

  val q97Sql: String =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents
       |  GROUP BY lang),
       |mx AS (SELECT MAX(n_l) AS n_max FROM c),
       |r AS (SELECT lang, n_l,
       |    LEAST(1000000, CAST(FLOOR(1000000.0 * 0.5 *
       |      SQRT(CAST(n_max AS DOUBLE) / CAST(n_l AS DOUBLE)))
       |      AS BIGINT)) AS accept_cut
       |  FROM c, mx),
       |b AS (SELECT d.doc_id, d.lang, r.n_l, r.accept_cut,
       |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 1000000 AS bucket
       |  FROM documents d JOIN r USING (lang))
       |SELECT doc_id, lang, n_l, bucket, accept_cut
       |FROM b WHERE bucket < accept_cut
       |ORDER BY doc_id""".stripMargin

  /** q103 — CCNet-style perplexity filtering
    * ([[graft.ext.TextAnalysis.perplexityBuckets]], Wenzek et al.
    * LREC 2020): every document's cross-entropy under a hashed-bigram
    * LM trained on the English subset, and the corpus split into
    * head/middle/tail thirds by bits-per-token value thresholds. The
    * per-position cost uses the codegen'd `fixed_log2` truncated-
    * squaring recurrence — exact integer arithmetic, so the oracle
    * (which replays all 16 squaring rounds as nested subqueries)
    * hash-matches the scores AND the bucket labels bit for bit. */
  def q103(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis
      .perplexityBuckets(spreadDocs(s, dir), "doc_id",
        col("lang") === "en")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("bits_fp"),
        col("bpt_fp"), col("ppl_bucket"))
      .orderBy(col("doc_id"))

  /** Unrolled `fixed_log2` oracle over a CTE exposing (doc_id, p_fp):
    * nested subqueries, NOT lateral aliases — DuckDB expands lateral
    * aliases textually and the recurrence references each stage
    * several times, which blows the binder up exponentially; each
    * nesting level here binds the previous level's columns once, so
    * the 16-round recurrence stays linear in plan size. */
  private def flog2D(fromCte: String, extra: Seq[String] = Nil): String = {
    val ex = extra.map(c => s", $c").mkString
    var q =
      s"""SELECT doc_id$ex, e, CAST(0 AS BIGINT) AS f,
         |  CASE WHEN e <= 30 THEN p_fp << (30 - e)
         |       ELSE p_fp >> (e - 30) END AS m
         |FROM (SELECT doc_id$ex, p_fp, length(bin(p_fp)) - 1 AS e
         |      FROM $fromCte)""".stripMargin
    for (_ <- 0 until 16)
      q = s"""SELECT doc_id$ex, e,
             |  f * 2 + (CASE WHEN t >= CAST(2147483648 AS BIGINT)
             |    THEN 1 ELSE 0 END) AS f,
             |  t >> (CASE WHEN t >= CAST(2147483648 AS BIGINT)
             |    THEN 1 ELSE 0 END) AS m
             |FROM (SELECT doc_id$ex, e, f, (m*m) >> 30 AS t
             |      FROM ($q))""".stripMargin
    s"SELECT doc_id$ex, e * CAST(65536 AS BIGINT) + f AS lg FROM ($q)"
  }

  val q103Sql: String =
    s"""WITH tk AS (SELECT doc_id, lang, $toksD AS toks FROM documents),
       |bgx AS (SELECT doc_id, lang,
       |    unnest(list_transform(range(1, greatest(len(toks), 1)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS bg FROM tk),
       |fe AS (SELECT doc_id, lang,
       |    ${tokD("string_split(bg, ' ')[1]")} % 65536 AS pfid,
       |    ${tokD("bg")} % 65536 AS bfid FROM bgx),
       |bcnt AS (SELECT bfid, COUNT(*) AS bc FROM fe
       |  WHERE lang = 'en' GROUP BY bfid),
       |pcnt AS (SELECT pfid, COUNT(*) AS pc FROM fe
       |  WHERE lang = 'en' GROUP BY pfid),
       |sp AS (SELECT doc_id,
       |    GREATEST(CAST(1 AS BIGINT), LEAST(CAST(1073741823 AS BIGINT),
       |      (CAST(1073741824 AS BIGINT) * (COALESCE(bc, 0) + 1))
       |        // (COALESCE(pc, 0) + 65536))) AS p_fp
       |  FROM fe LEFT JOIN bcnt USING (bfid) LEFT JOIN pcnt USING (pfid)),
       |lgt AS (${flog2D("sp")}),
       |dc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(CAST(1966080 AS BIGINT) - lg) AS BIGINT) AS bits_fp
       |  FROM lgt GROUP BY doc_id),
       |d2 AS (SELECT doc_id, n_bigrams, bits_fp,
       |    bits_fp // n_bigrams AS bpt_fp FROM dc),
       |hist AS (SELECT bpt_fp, COUNT(*) AS c FROM d2 GROUP BY bpt_fp),
       |cum AS (SELECT bpt_fp,
       |    CAST(SUM(c) OVER (ORDER BY bpt_fp) AS BIGINT) AS cum FROM hist),
       |tot AS (SELECT MAX(cum) AS tot FROM cum),
       |cuts AS (SELECT
       |    MIN(CASE WHEN cum * 3 >= tot THEN bpt_fp END) AS t1,
       |    MIN(CASE WHEN cum * 3 >= 2 * tot THEN bpt_fp END) AS t2
       |  FROM cum, tot)
       |SELECT doc_id, n_bigrams, bits_fp, bpt_fp,
       |  CASE WHEN bpt_fp <= t1 THEN 'head'
       |       WHEN bpt_fp <= t2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |FROM d2, cuts ORDER BY doc_id""".stripMargin

  /** q106 — exact global top-decile quality cut
    * ([[graft.ext.Sampling.topFraction]], the FineWeb-Edu "train on
    * the best fraction" selection): the q29 stopword-density score as
    * a 1e6-scale fixed-point integer, keep exactly ⌈n/10⌉ documents —
    * the k highest by (score desc, md5(doc_id), doc_id). The oracle
    * IS the naive global sort (`row_number() OVER (ORDER BY ...)`);
    * the Spark side computes the identical set from the bounded
    * distinct-score histogram + threshold-tie rank, so the gate
    * proves the no-global-sort plan selects the same rows the sort
    * would. */
  def q106(s: SparkSession, dir: String): DataFrame = {
    val stopHits =
      s"${hits("the")} + ${hits("and")} + ${hits("of")} + ${hits("to")}"
    val scored = withToks(s, dir)
      .withColumn("score_fp",
        expr(s"(($stopHits) * 1000000) DIV size(toks)"))
      .select(col("doc_id"), col("lang"), col("score_fp"))
    graft.ext.Sampling.topFraction(scored, "score_fp", "doc_id", 1, 10)
      .orderBy(col("doc_id"))
  }

  val q106Sql: String = {
    val stopHits =
      s"${hits("the")} + ${hits("and")} + ${hits("of")} + ${hits("to")}"
    s"""WITH s AS (SELECT doc_id, lang,
       |    (($stopHits) * 1000000) // len($toksD) AS score_fp
       |  FROM documents),
       |r AS (SELECT doc_id, lang, score_fp,
       |    row_number() OVER (ORDER BY score_fp DESC,
       |      md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM s WHERE score_fp IS NOT NULL)
       |SELECT doc_id, lang, score_fp FROM r
       |WHERE rn <= (n + 9) // 10
       |ORDER BY doc_id""".stripMargin
  }

  /** q108 — BPE tokenizer TRAINING
    * ([[graft.ext.TextAnalysis.bpeTrain]], Sennrich et al. ACL 2016):
    * four iterative merge rounds over the documents corpus, each
    * selecting the corpus-wide most frequent adjacent symbol pair
    * (count desc, then lexicographic — deterministic, no RNG). The
    * oracle unrolls the SAME four rounds as chained CTEs — state →
    * pair counts → argmax → replace — so every round's winning pair
    * AND its count are hash-pinned: a wrong greedy application order
    * or a boundary leak in round k changes round k+1's counts and
    * mismatches. */
  def q108(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.TextAnalysis.bpeTrain(Tables(s, dir, "documents"),
        "text", 4)
      .map(m => (m.rank, m.left, m.right, m.count))
      .toDF("merge_rank", "lsym", "rsym", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** The oracle's iterative-merge CTE chain: st0 (normalized,
    * char-wrapped state) then per round k: adjacent pair counts of
    * st(k−1), the argmax merge m(k), and st(k) = the merge applied.
    * Shared by q108 (emits the merge table) and q109 (emits per-doc
    * symbol counts before/after). */
  private def bpeCtes(n: Int): String = {
    // AS MATERIALIZED throughout: each round's state references the
    // previous round's CTE more than once, and DuckDB's inlining
    // heuristic can otherwise expand the chain into exponentially
    // many re-reads of the base parquet (q179's 16 rounds exhausted
    // the process's file handles before the hint).
    val sb = new StringBuilder(
      """st0 AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(
        |    string_split_regex(trim(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g')), '\s+'),
        |    w -> regexp_replace(w, '(.)', '|\1|', 'g')), ' ') AS state
        |  FROM documents)""".stripMargin)
    for (k <- 1 to n) {
      val p = k - 1
      sb.append(s""",
        |w$k AS MATERIALIZED (SELECT unnest(string_split(state, ' ')) AS w FROM st$p),
        |pc$k AS MATERIALIZED (SELECT s[i] AS l, s[i + 1] AS r, COUNT(*) AS cnt
        |  FROM (SELECT s, unnest(generate_series(1, len(s) - 1)) AS i
        |        FROM (SELECT string_split(trim(w, '|'), '||') AS s
        |              FROM w$k))
        |  GROUP BY 1, 2),
        |m$k AS MATERIALIZED (SELECT $k AS merge_rank, l, r, cnt FROM pc$k
        |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        |st$k AS MATERIALIZED (SELECT doc_id, replace(state,
        |    '|' || (SELECT l FROM m$k) || '||' ||
        |      (SELECT r FROM m$k) || '|',
        |    '|' || (SELECT l FROM m$k) ||
        |      (SELECT r FROM m$k) || '|') AS state
        |  FROM st$p)""".stripMargin)
    }
    sb.toString
  }

  val q108Sql: String =
    s"""WITH ${bpeCtes(4)}
       |SELECT merge_rank, l AS lsym, r AS rsym, cnt AS pair_count
       |FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
       |  UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4)
       |ORDER BY merge_rank""".stripMargin

  /** q109 — BPE encode ([[graft.ext.TextAnalysis.bpeSegment]]): the
    * q108-trained merge table applied back to the corpus; per-doc
    * symbol counts before and after (each symbol is one `|sym|`
    * wrap, so the count is `(length − length-without-pipes) / 2`).
    * Pins the train→apply round trip: a segmentation that applied
    * merges in the wrong order or across word boundaries changes
    * some document's count. */
  def q109(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val ms = graft.ext.TextAnalysis.bpeTrain(docs, "text", 4)
    docs
      .withColumn("st0", graft.ext.TextAnalysis.bpeInitState("text"))
      .withColumn("stn",
        graft.ext.TextAnalysis.bpeSegment("text", ms))
      .select(col("doc_id"),
        expr("(length(st0) - length(replace(st0, '|', ''))) DIV 2")
          .as("syms_before"),
        expr("(length(stn) - length(replace(stn, '|', ''))) DIV 2")
          .as("syms_after"))
      .orderBy(col("doc_id"))
  }

  val q109Sql: String =
    s"""WITH ${bpeCtes(4)}
       |SELECT a.doc_id,
       |  (length(a.state) - length(replace(a.state, '|', ''))) // 2
       |    AS syms_before,
       |  (length(b.state) - length(replace(b.state, '|', ''))) // 2
       |    AS syms_after
       |FROM st0 a JOIN st4 b USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** q179 — driver-local BPE training
    * ([[graft.ext.TextAnalysis.bpeTrainLocal]]): the 30k-round-regime
    * trainer (one Spark job for the word dictionary, then an
    * incrementally-maintained driver merge loop) producing the SAME
    * merge table as the per-round-Spark-job [[q108]] shape. 16 rounds
    * here — 4× q108's depth — and the oracle unrolls the same 16
    * rounds as chained corpus-wide CTEs, so every round's winning
    * pair AND count are hash-pinned: a drifted incremental pair
    * count, a wrong tie-break, or a greedy-application mismatch in
    * round k flips round k+1. */
  def q179(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.TextAnalysis.bpeTrainLocal(Tables(s, dir, "documents"),
        "text", 16)
      .map(m => (m.rank, m.left, m.right, m.count))
      .toDF("merge_rank", "lsym", "rsym", "pair_count")
      .orderBy(col("merge_rank"))
  }

  val q179Sql: String =
    s"""WITH ${bpeCtes(16)}
       |SELECT merge_rank, l AS lsym, r AS rsym, cnt AS pair_count
       |FROM (${(1 to 16).map(k => s"SELECT * FROM m$k")
          .mkString(" UNION ALL ")})
       |ORDER BY merge_rank""".stripMargin

  /** q187 — TRIGRAM interpolated Kneser–Ney
    * ([[graft.ext.TextAnalysis.kneserNeyTrigramScore]] — the full
    * KenLM recursion: trigram level over raw counts, bigram level
    * over CONTINUATION counts, continuation-unigram base): trains on
    * the English documents, scores all documents, every backoff
    * level exercised and the two truncating fixed-point divisions
    * replayed verbatim by the oracle. With q180 (bigram KN), q148
    * (Stupid Backoff) and q151 (incremental counts) this completes
    * the smoothing-LM serving surface. */
  /** Parametrized replay of the q180 KN-bigram scoring chain — one
    * block per model (`p` prefixes every CTE; `modelWhere` restricts
    * the TRAINING corpus). Shares the outer `tk`/`pos` CTEs; produces
    * `${p}ag(doc_id, n_pos, bits_fp)`. The q193 Moore–Lewis oracle
    * instantiates it twice (in-domain and general models). */
  private def knBptBlock(p: String, modelWhere: String): String =
    s"""${p}bg AS (SELECT q[1] AS w1, q[2] AS w2, COUNT(*) AS c12 FROM (
       |  SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
       |    i -> [toks[i], toks[i+1]])) AS q FROM tk WHERE $modelWhere)
       |  GROUP BY 1, 2),
       |${p}ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |    COUNT(*) AS fwd FROM ${p}bg GROUP BY w1),
       |${p}bwd AS (SELECT w2, COUNT(*) AS bwd FROM ${p}bg GROUP BY w2),
       |${p}nt AS (SELECT COUNT(*) AS t FROM ${p}bg),
       |${p}j AS (SELECT pos.doc_id, ${p}bg.c12, ${p}ctx.c1,
       |    ${p}ctx.fwd, ${p}bwd.bwd
       |  FROM pos
       |  LEFT JOIN ${p}bg ON pos.w1 = ${p}bg.w1 AND pos.w2 = ${p}bg.w2
       |  LEFT JOIN ${p}ctx ON pos.w1 = ${p}ctx.w1
       |  LEFT JOIN ${p}bwd ON pos.w2 = ${p}bwd.w2),
       |${p}pv AS (SELECT doc_id, c12, GREATEST(
       |    CASE WHEN c1 IS NOT NULL THEN CAST((
       |      CAST(1048576 AS HUGEINT) * (
       |        CAST(GREATEST(100 * COALESCE(c12, 0) - 75, 0) AS HUGEINT)
       |          * (SELECT t FROM ${p}nt) +
       |        CAST(75 AS HUGEINT) * fwd * COALESCE(bwd, 0))
       |      ) // (CAST(100 AS HUGEINT) * c1 * (SELECT t FROM ${p}nt))
       |      AS BIGINT)
       |    ELSE CAST((CAST(1048576 AS HUGEINT) * COALESCE(bwd, 0))
       |      // (SELECT t FROM ${p}nt) AS BIGINT) END,
       |    CAST(1 AS BIGINT)) AS p_fp FROM ${p}j),
       |${p}vals AS (SELECT DISTINCT p_fp FROM ${p}pv),
       |${p}lvin AS (SELECT p_fp AS doc_id, CAST(p_fp AS BIGINT) AS p_fp
       |  FROM ${p}vals),
       |${p}lv AS (${flog2D(s"${p}lvin")}),
       |${p}bits AS (SELECT ${p}pv.doc_id,
       |    CAST(20 * 65536 AS BIGINT) - ${p}lv.lg AS bits
       |  FROM ${p}pv JOIN ${p}lv ON ${p}pv.p_fp = ${p}lv.doc_id),
       |${p}ag AS (SELECT doc_id, COUNT(*) AS n_pos,
       |    CAST(SUM(bits) AS BIGINT) AS bits_fp
       |  FROM ${p}bits GROUP BY doc_id)""".stripMargin

  /** q193 — Moore–Lewis cross-entropy difference selection (Moore &
    * Lewis ACL 2010, the standard LM-corpus data-selection method;
    * what CCNet/CC-100 style pipelines rank web text with): score
    * every document under an IN-DOMAIN Kneser–Ney bigram model
    * (trained on the `src0` slice) and a GENERAL model (trained on
    * the whole corpus), rank by the per-token bits difference
    * `H_in(d) − H_gen(d)` ascending — most in-domain-like first —
    * and keep the top 50. Both scores ride [[q180]]'s exact
    * fixed-point machinery, so the selected SET (not just its size)
    * hash-matches the oracle's twin replay.
    *
    * Scale shape: two model-sized aggregation sets + six key-local
    * joins against ONE shared corpus positions frame, then a
    * TakeOrdered(50) — corpus size enters only through the one
    * positions scan, exactly twice q180's serving cost. */
  def q193(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val docs = spreadDocs(s, dir)
    // r16 optimization: ONE tokenize+explode pass builds a pinned
    // positions frame tagged with the in-domain flag; both models
    // derive from ONE aggregation of it (biGen = all positions, biIn
    // = the src0 subset — identical to two kneserNeyTable builds by
    // additivity of counts), and both scorings join the same pinned
    // frame. Formerly the corpus was re-scanned and re-tokenized ~10×
    // across the two model builds and two scoring positions frames.
    val pos = TextAnalysis
      .kneserNeyPositions(
        docs.withColumn("is_in", col("source") === "src0"),
        "doc_id", "text", carry = Seq("is_in"))
      .localCheckpoint()
    val biBoth = pos.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("is_in"), 1L).otherwise(0L)).as("c_in"))
      .localCheckpoint()
    val biGen = biBoth.select(col("w1"), col("w2"), col("c"))
    val biIn = biBoth.filter(col("c_in") > 0)
      .select(col("w1"), col("w2"), col("c_in").as("c"))
    val ids = docs.select(col("doc_id").as("id"))
    val posPlain = pos.select(col("id"), col("w1"), col("w2"))
    val sIn = TextAnalysis
      .kneserNeyScorePositions(ids, posPlain, biIn)
      .select(col("id").as("doc_id"), col("bpt_fp").as("bpt_in_fp"))
    val sGen = TextAnalysis
      .kneserNeyScorePositions(ids, posPlain, biGen)
      .select(col("id").as("doc_id"), col("bpt_fp").as("bpt_gen_fp"))
    sIn.join(sGen, "doc_id")
      .withColumn("ml_diff_fp", col("bpt_in_fp") - col("bpt_gen_fp"))
      .orderBy(col("ml_diff_fp"), col("doc_id"))
      .limit(50)
  }

  val q193Sql: String =
    s"""WITH tk AS (SELECT doc_id, lang, source, $toksD AS toks
       |  FROM documents),
       |pos AS (SELECT doc_id, q[1] AS w1, q[2] AS w2 FROM (
       |  SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(toks), 1)),
       |    i -> [toks[i], toks[i+1]])) AS q FROM tk)),
       |${knBptBlock("i_", "source = 'src0'")},
       |${knBptBlock("g_", "TRUE")},
       |sc AS (SELECT d.doc_id,
       |    COALESCE(CASE WHEN ia.n_pos > 0
       |      THEN ia.bits_fp // ia.n_pos END, 0) AS bpt_in_fp,
       |    COALESCE(CASE WHEN ga.n_pos > 0
       |      THEN ga.bits_fp // ga.n_pos END, 0) AS bpt_gen_fp
       |  FROM documents d
       |  LEFT JOIN i_ag ia USING (doc_id)
       |  LEFT JOIN g_ag ga USING (doc_id))
       |SELECT doc_id, bpt_in_fp, bpt_gen_fp,
       |  bpt_in_fp - bpt_gen_fp AS ml_diff_fp
       |FROM sc ORDER BY ml_diff_fp, doc_id LIMIT 50""".stripMargin

  def q187(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val tri = graft.ext.TextAnalysis.kneserNeyTrigramTable(
      docs.filter(col("lang") === "en"))
    graft.ext.TextAnalysis.kneserNeyTrigramScore(docs, "doc_id", tri)
      .select(col("id").as("doc_id"), col("n_pos"), col("seen_tri"),
        col("bits_fp"), col("bpt_fp"))
      .orderBy(col("doc_id"))
  }

  val q187Sql: String =
    s"""WITH tk AS (SELECT doc_id, lang, $toksD AS toks FROM documents),
       |tg AS (SELECT p[1] AS w1, p[2] AS w2, p[3] AS w3,
       |    COUNT(*) AS c123 FROM (
       |  SELECT unnest(list_transform(
       |      range(1, greatest(len(toks) - 1, 1)),
       |    i -> [toks[i], toks[i+1], toks[i+2]])) AS p
       |  FROM tk WHERE lang = 'en') GROUP BY 1, 2, 3),
       |c3x AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c3,
       |    COUNT(*) AS fwd3 FROM tg GROUP BY w1, w2),
       |cc AS (SELECT w2, w3, COUNT(*) AS cc23 FROM tg GROUP BY w2, w3),
       |md AS (SELECT w2, CAST(SUM(cc23) AS BIGINT) AS mid2,
       |    COUNT(*) AS fwd2 FROM cc GROUP BY w2),
       |bw AS (SELECT w3, COUNT(*) AS bwd3 FROM cc GROUP BY w3),
       |nt AS (SELECT COUNT(*) AS t FROM cc),
       |pos AS (SELECT doc_id, p[1] AS w1, p[2] AS w2, p[3] AS w3 FROM (
       |  SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(toks) - 1, 1)),
       |    i -> [toks[i], toks[i+1], toks[i+2]])) AS p FROM tk)),
       |j AS (SELECT pos.doc_id, tg.c123, c3x.c3, c3x.fwd3, cc.cc23,
       |    md.mid2, md.fwd2, bw.bwd3
       |  FROM pos
       |  LEFT JOIN tg ON pos.w1 = tg.w1 AND pos.w2 = tg.w2
       |    AND pos.w3 = tg.w3
       |  LEFT JOIN c3x ON pos.w1 = c3x.w1 AND pos.w2 = c3x.w2
       |  LEFT JOIN cc ON pos.w2 = cc.w2 AND pos.w3 = cc.w3
       |  LEFT JOIN md ON pos.w2 = md.w2
       |  LEFT JOIN bw ON pos.w3 = bw.w3),
       |p2 AS (SELECT doc_id, c123, c3, fwd3,
       |    CASE WHEN mid2 IS NOT NULL THEN CAST((
       |      CAST(1048576 AS HUGEINT) * (
       |        CAST(GREATEST(100 * COALESCE(cc23, 0) - 75, 0)
       |          AS HUGEINT) * (SELECT t FROM nt) +
       |        CAST(75 AS HUGEINT) * fwd2 * COALESCE(bwd3, 0))
       |      ) // (CAST(100 AS HUGEINT) * mid2 * (SELECT t FROM nt))
       |      AS BIGINT)
       |    ELSE CAST((CAST(1048576 AS HUGEINT) * COALESCE(bwd3, 0))
       |      // (SELECT t FROM nt) AS BIGINT) END AS p2_fp
       |  FROM j),
       |pv AS (SELECT doc_id, c123, GREATEST(
       |    CASE WHEN c3 IS NOT NULL THEN CAST((
       |      CAST(GREATEST(100 * COALESCE(c123, 0) - 75, 0) AS HUGEINT)
       |        * 1048576 +
       |      CAST(75 AS HUGEINT) * fwd3 * p2_fp
       |    ) // (CAST(100 AS HUGEINT) * c3) AS BIGINT)
       |    ELSE p2_fp END, CAST(1 AS BIGINT)) AS p_fp FROM p2),
       |vals AS (SELECT DISTINCT p_fp FROM pv),
       |lvin AS (SELECT p_fp AS doc_id, CAST(p_fp AS BIGINT) AS p_fp
       |  FROM vals),
       |lv AS (${flog2D("lvin")}),
       |bits AS (SELECT pv.doc_id, pv.c123,
       |    CAST(20 * 65536 AS BIGINT) - lv.lg AS bits
       |  FROM pv JOIN lv ON pv.p_fp = lv.doc_id),
       |ag AS (SELECT doc_id, COUNT(*) AS n_pos,
       |    CAST(SUM(CASE WHEN c123 IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS seen_tri,
       |    CAST(SUM(bits) AS BIGINT) AS bits_fp
       |  FROM bits GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(ag.n_pos, 0) AS n_pos,
       |  COALESCE(ag.seen_tri, 0) AS seen_tri,
       |  COALESCE(ag.bits_fp, 0) AS bits_fp,
       |  CASE WHEN COALESCE(ag.n_pos, 0) > 0
       |    THEN ag.bits_fp // ag.n_pos ELSE 0 END AS bpt_fp
       |FROM documents d LEFT JOIN ag USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** q183 — per-language tokenizer FERTILITY under the trained BPE
    * (the standard tokenizer-eval report: subword units per word, and
    * the char→subword compression ratio — how a tokenizer trained on
    * a mixed corpus over- or under-segments each language): the
    * 16-merge [[graft.ext.TextAnalysis.bpeTrainLocal]] table applied
    * corpus-wide, symbol counts aggregated per language, ratios in
    * exact 10^6 fixed point. The oracle replays training AND
    * segmentation through the same unrolled CTE chain, then the
    * per-language aggregation — a drifted merge table or a
    * segmentation leak in any language flips its row. */
  def q183(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val ms = graft.ext.TextAnalysis.bpeTrainLocal(docs, "text", 16)
    docs
      .withColumn("st0", graft.ext.TextAnalysis.bpeInitState("text"))
      .withColumn("stn", graft.ext.TextAnalysis.bpeSegment("text", ms))
      .select(col("lang"),
        expr("CAST(size(split(st0, ' ')) AS BIGINT)").as("nw"),
        expr("(length(st0) - length(replace(st0, '|', ''))) DIV 2")
          .as("sb"),
        expr("(length(stn) - length(replace(stn, '|', ''))) DIV 2")
          .as("sa"))
      .groupBy("lang")
      .agg(sum(col("nw")).as("n_words"),
        sum(col("sb")).as("syms_before"),
        sum(col("sa")).as("syms_after"))
      .select(col("lang"), col("n_words"), col("syms_before"),
        col("syms_after"),
        expr("syms_after * 1000000 div greatest(n_words, 1L)")
          .as("fertility_fp"),
        expr("syms_before * 1000000 div greatest(syms_after, 1L)")
          .as("compression_fp"))
      .orderBy(col("lang"))
  }

  val q183Sql: String =
    s"""WITH ${bpeCtes(16)},
       |per AS (SELECT a.doc_id,
       |    CAST(len(string_split(a.state, ' ')) AS BIGINT) AS nw,
       |    (length(a.state) - length(replace(a.state, '|', ''))) // 2
       |      AS sb,
       |    (length(b.state) - length(replace(b.state, '|', ''))) // 2
       |      AS sa
       |  FROM st0 a JOIN st16 b USING (doc_id)),
       |g AS (SELECT d.lang, CAST(SUM(nw) AS BIGINT) AS n_words,
       |    CAST(SUM(sb) AS BIGINT) AS syms_before,
       |    CAST(SUM(sa) AS BIGINT) AS syms_after
       |  FROM per JOIN documents d USING (doc_id) GROUP BY d.lang)
       |SELECT lang, n_words, syms_before, syms_after,
       |  (syms_after * 1000000) // GREATEST(n_words, 1) AS fertility_fp,
       |  (syms_before * 1000000) // GREATEST(syms_after, 1)
       |    AS compression_fp
       |FROM g ORDER BY lang""".stripMargin

  /** q180 — interpolated Kneser–Ney bigram scoring
    * ([[graft.ext.TextAnalysis.kneserNeyScore]], Kneser & Ney 1995 /
    * Chen & Goodman 1998 — the KenLM smoothing CCNet-style perplexity
    * filters quote): the model trains on the ENGLISH documents only
    * and scores ALL documents, so every backoff branch really fires —
    * unseen bigrams take the pure-continuation discount mass, unseen
    * contexts degrade to Pcont, unseen tokens floor at p_fp = 1 —
    * and the oracle replays the exact 38-digit-integer probability
    * and the `fixed_log2` recurrence over the distinct p_fp domain,
    * so per-doc bits hash-match bit for bit. */
  def q180(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val bi = graft.ext.TextAnalysis.kneserNeyTable(
      docs.filter(col("lang") === "en"))
    graft.ext.TextAnalysis.kneserNeyScore(docs, "doc_id", bi)
      .select(col("id").as("doc_id"), col("n_pos"), col("seen_bi"),
        col("bits_fp"), col("bpt_fp"))
      .orderBy(col("doc_id"))
  }

  val q180Sql: String =
    s"""WITH tk AS (SELECT doc_id, lang, $toksD AS toks FROM documents),
       |bg AS (SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c12 FROM (
       |  SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
       |    i -> [toks[i], toks[i+1]])) AS p FROM tk WHERE lang = 'en')
       |  GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |    COUNT(*) AS fwd FROM bg GROUP BY w1),
       |bwd_ AS (SELECT w2, COUNT(*) AS bwd FROM bg GROUP BY w2),
       |nt AS (SELECT COUNT(*) AS t FROM bg),
       |pos AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
       |  SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(toks), 1)),
       |    i -> [toks[i], toks[i+1]])) AS p FROM tk)),
       |j AS (SELECT pos.doc_id, bg.c12, ctx.c1, ctx.fwd, bwd_.bwd
       |  FROM pos
       |  LEFT JOIN bg ON pos.w1 = bg.w1 AND pos.w2 = bg.w2
       |  LEFT JOIN ctx ON pos.w1 = ctx.w1
       |  LEFT JOIN bwd_ ON pos.w2 = bwd_.w2),
       |pv AS (SELECT doc_id, c12, GREATEST(
       |    CASE WHEN c1 IS NOT NULL THEN CAST((
       |      CAST(1048576 AS HUGEINT) * (
       |        CAST(GREATEST(100 * COALESCE(c12, 0) - 75, 0) AS HUGEINT)
       |          * (SELECT t FROM nt) +
       |        CAST(75 AS HUGEINT) * fwd * COALESCE(bwd, 0))
       |      ) // (CAST(100 AS HUGEINT) * c1 * (SELECT t FROM nt))
       |      AS BIGINT)
       |    ELSE CAST((CAST(1048576 AS HUGEINT) * COALESCE(bwd, 0))
       |      // (SELECT t FROM nt) AS BIGINT) END,
       |    CAST(1 AS BIGINT)) AS p_fp FROM j),
       |vals AS (SELECT DISTINCT p_fp FROM pv),
       |lvin AS (SELECT p_fp AS doc_id, CAST(p_fp AS BIGINT) AS p_fp
       |  FROM vals),
       |lv AS (${flog2D("lvin")}),
       |bits AS (SELECT pv.doc_id, pv.c12,
       |    CAST(20 * 65536 AS BIGINT) - lv.lg AS bits
       |  FROM pv JOIN lv ON pv.p_fp = lv.doc_id),
       |ag AS (SELECT doc_id, COUNT(*) AS n_pos,
       |    CAST(SUM(CASE WHEN c12 IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS seen_bi,
       |    CAST(SUM(bits) AS BIGINT) AS bits_fp
       |  FROM bits GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(ag.n_pos, 0) AS n_pos,
       |  COALESCE(ag.seen_bi, 0) AS seen_bi,
       |  COALESCE(ag.bits_fp, 0) AS bits_fp,
       |  CASE WHEN COALESCE(ag.n_pos, 0) > 0
       |    THEN ag.bits_fp // ag.n_pos ELSE 0 END AS bpt_fp
       |FROM documents d LEFT JOIN ag USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Shared q112/q113 oracle scaffolding: the trained linear-probe
    * weight table ([[graft.ext.Classifier.train]]) replayed as chained
    * CTEs — presence features (distinct hashed bigrams + a bias
    * feature 65536 per doc), labels y = 1e6·[lang='en'], the
    * data-derived safe step 1/(n·L), and each full-batch GD iteration
    * unrolled (gradient → truncating division → weight update), the
    * same oracle move as the BPE trainer (q108). `tdivD` pins
    * truncate-toward-zero division, which Spark's BigInteger.divide
    * and DuckDB's `//` must agree on for NEGATIVE gradients. */
  private def tdivD(g: String, d: String): String =
    s"CASE WHEN $g >= 0 THEN $g // $d ELSE -((-$g) // $d) END"

  private val classifierBodyD: String = {
    val setup =
      s"""WITH tk AS (SELECT doc_id, $toksD AS toks FROM documents),
         |bgx AS (SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks), 1)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bg FROM tk),
         |f AS (SELECT doc_id, ${tokD("bg")} % 65536 AS fid FROM bgx
         |  UNION SELECT doc_id, CAST(65536 AS BIGINT) FROM documents),
         |lab AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y
         |  FROM documents),
         |den AS (SELECT n.n * l.L AS d
         |  FROM (SELECT COUNT(*) AS n FROM documents) n,
         |    (SELECT MAX(c) AS L FROM (SELECT doc_id, COUNT(*) AS c
         |      FROM f GROUP BY doc_id)) l),
         |g1 AS (SELECT fid, SUM(CAST(y AS HUGEINT)) AS g
         |  FROM f JOIN lab USING (doc_id) GROUP BY fid),
         |w1 AS (SELECT fid, CAST(${tdivD("g", "d")} AS BIGINT) AS w
         |  FROM g1, den)""".stripMargin
    val iters = (2 to 3).map { t =>
      s"""m$t AS (SELECT doc_id, SUM(COALESCE(w, 0)) AS m
         |  FROM f LEFT JOIN w${t - 1} USING (fid) GROUP BY doc_id),
         |r$t AS (SELECT l.doc_id, CAST(y - COALESCE(m, 0) AS HUGEINT) AS r
         |  FROM lab l LEFT JOIN m$t ON l.doc_id = m$t.doc_id),
         |g$t AS (SELECT fid, SUM(r) AS g
         |  FROM f JOIN r$t USING (doc_id) GROUP BY fid),
         |w$t AS (SELECT w${t - 1}.fid,
         |    w${t - 1}.w + CAST(${tdivD("g", "d")} AS BIGINT) AS w
         |  FROM w${t - 1} JOIN g$t USING (fid), den)""".stripMargin
    }
    (setup +: iters).mkString(",\n")
  }

  /** q112 — quality-classifier TRAINING
    * ([[graft.ext.Classifier.train]]): the fastText-style linear
    * quality probe fit by 3 full-batch fixed-point GD steps, target =
    * the English subset. The oracle unrolls all 3 iterations in SQL,
    * so the MODEL — every surviving weight — is hash-pinned, not just
    * downstream scores. */
  def q112(s: SparkSession, dir: String): DataFrame =
    graft.ext.Classifier
      .train(spreadDocs(s, dir), "doc_id", col("lang") === "en")
      .orderBy(col("fid"))

  val q112Sql: String =
    s"""$classifierBodyD
       |SELECT fid, w FROM w3 WHERE w <> 0 ORDER BY fid""".stripMargin

  /** q113 — quality-classifier SCORING
    * ([[graft.ext.Classifier.score]]): every document's fixed-point
    * margin under the q112 model (train → apply round trip, like
    * q109 for the BPE trainer). Unseen features contribute 0. */
  def q113(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    graft.ext.Classifier
      .score(docs, "doc_id",
        graft.ext.Classifier.train(docs, "doc_id", col("lang") === "en"))
      .select(col("id").as("doc_id"), col("n_feats"), col("score_fp"))
      .orderBy(col("doc_id"))
  }

  val q113Sql: String =
    s"""$classifierBodyD,
       |sc AS (SELECT doc_id, COUNT(*) AS n_feats,
       |    SUM(COALESCE(w, 0)) AS score_fp
       |  FROM f LEFT JOIN w3 USING (fid) GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(n_feats, 0) AS n_feats,
       |  CAST(COALESCE(score_fp, 0) AS BIGINT) AS score_fp
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** q114 — token-budget mixture fill
    * ([[graft.ext.Sampling.budgetMix]]): assemble a (total/3)-token
    * training set across the 20 sources at weights (src# % 4) + 1 —
    * largest-remainder integer apportionment, then each stratum's
    * greedy prefix in the deterministic md5-bucket order. The oracle
    * replays apportionment AND the two-level (bucket histogram →
    * within-bucket) running totals in SQL. */
  def q114(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val toks = graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
    val total = docs.select(sum(toks).as("t")).head.getLong(0)
    val weights = docs.select(col("source").as("stratum")).distinct()
      .withColumn("wt",
        expr("CAST(substring(stratum, 4) AS BIGINT) % 4 + 1"))
    graft.ext.Sampling
      .budgetMix(docs, "doc_id", "source", toks, weights, total / 3)
      .select(col("id").as("doc_id"), col("stratum").as("source"),
        col("n_tokens"), col("alloc"), col("cum_before"))
      .orderBy(col("source"), col("doc_id"))
  }

  val q114Sql: String =
    s"""WITH docs AS (SELECT doc_id AS id, source AS stratum,
       |    CAST(len($toksD) AS BIGINT) AS tok,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 1000000 AS bucket
       |  FROM documents),
       |tot AS (SELECT CAST(SUM(tok) // 3 AS BIGINT) AS B FROM docs),
       |wts AS (SELECT stratum,
       |    CAST(substr(stratum, 4) AS BIGINT) % 4 + 1 AS wt
       |  FROM (SELECT DISTINCT source AS stratum FROM documents)),
       |ws AS (SELECT SUM(wt) AS wsum FROM wts),
       |basea AS (SELECT stratum, (B * wt) // wsum AS base,
       |    (B * wt) % wsum AS rem FROM wts, ws, tot),
       |lo AS (SELECT (SELECT B FROM tot) -
       |    (SELECT SUM(base) FROM basea) AS leftover),
       |alloc AS (SELECT stratum, CAST(base + CASE WHEN
       |      ROW_NUMBER() OVER (ORDER BY rem DESC, stratum ASC)
       |        <= leftover
       |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |  FROM basea, lo),
       |bagg AS (SELECT stratum, bucket, SUM(tok) AS btok
       |  FROM docs GROUP BY 1, 2),
       |bcum AS (SELECT stratum, bucket, CAST(COALESCE(
       |    SUM(btok) OVER (PARTITION BY stratum ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cumb FROM bagg),
       |sel AS (SELECT d.id, d.stratum, d.tok, a.alloc,
       |    d.bucket, b.cumb
       |  FROM docs d
       |  JOIN bcum b ON d.stratum = b.stratum AND d.bucket = b.bucket
       |  JOIN alloc a ON a.stratum = d.stratum
       |  WHERE b.cumb < a.alloc),
       |run AS (SELECT id, stratum, tok, alloc,
       |    CAST(cumb + COALESCE(SUM(tok) OVER (
       |      PARTITION BY stratum, bucket ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cum_before FROM sel)
       |SELECT id AS doc_id, stratum AS source, tok AS n_tokens,
       |  alloc, cum_before
       |FROM run WHERE cum_before < alloc
       |ORDER BY source, doc_id""".stripMargin

  /** q115 — deterministic shard assignment
    * ([[graft.ext.Sampling.shardAssign]]): the content-stable global
    * shuffle into training shards — shard = md5 bucket, pos = rank
    * under the (md5, id) in-shard order. */
  def q115(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling
      .shardAssign(spreadDocs(s, dir), "doc_id", numShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  val q115Sql: String =
    s"""SELECT doc_id,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |    AS BIGINT) % 8 AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 8
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
       |    AS INTEGER) AS pos
       |FROM documents ORDER BY shard, pos""".stripMargin

  /** q117 — n-gram CONTAINMENT pairs
    * ([[graft.ext.Dedup.ngramContainmentPairsFromSids]]): the
    * asymmetric near-dup relation — |A∩B| / min(|A|,|B|) ≥ 0.25
    * catches a short document mostly contained in a longer one
    * (excerpt / quote / wrapper) whose Jaccard is diluted by the long
    * side. Same df-capped source-blocked machinery as q59. */
  def q117(s: SparkSession, dir: String): DataFrame = {
    val staged = withShingleIds(s, dir).select(col("doc_id").as("id"),
      col("source").as("blk"), col("sids"))
    graft.ext.Dedup
      .ngramContainmentPairsFromSids(staged, threshold = 0.25,
        maxShingleDocFreq = Some(25L))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q117Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    list_transform($shinglesD, t -> ${tokD("t")}) AS sids
       |  FROM documents),
       |dm AS (SELECT doc_id, source, sids, len(sids) AS m FROM d
       |  WHERE len(sids) > 0),
       |e AS (SELECT doc_id, source, sh
       |  FROM (SELECT doc_id, source, unnest(sids) AS sh FROM dm)),
       |hot AS (SELECT source, sh FROM e
       |  GROUP BY source, sh HAVING COUNT(*) > 25),
       |kept AS (SELECT e.* FROM e
       |  WHERE NOT EXISTS (SELECT 1 FROM hot
       |    WHERE hot.source = e.source AND hot.sh = e.sh)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM kept a JOIN kept b
       |    ON a.sh = b.sh AND a.source = b.source
       |      AND a.doc_id < b.doc_id),
       |v AS (SELECT c.a_id, c.b_id, da.m AS ma, db.m AS mb,
       |    len(list_intersect(da.sids, db.sids)) AS inter
       |  FROM cand c
       |  JOIN dm da ON da.doc_id = c.a_id
       |  JOIN dm db ON db.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       |  CAST(ma AS INTEGER) AS ma, CAST(mb AS INTEGER) AS mb,
       |  CAST(inter AS DOUBLE) / least(ma, mb) AS containment
       |FROM v WHERE CAST(inter AS DOUBLE) / least(ma, mb) >= 0.25
       |ORDER BY a_id, b_id""".stripMargin

  /** q118 — per-source score CALIBRATION
    * ([[graft.ext.Sampling.rankNormalize]]): every doc's stopword-hit
    * quality score rank-normalized WITHIN its source, so one cut
    * fraction is fair across sources with different score
    * distributions. The Spark side is the sortless histogram plan;
    * the oracle IS the naive per-stratum PERCENT_RANK window, so the
    * gate proves the histogram computes exactly the window's ranks
    * (including tie groups). */
  def q118(s: SparkSession, dir: String): DataFrame = {
    val stopHits =
      s"${hits("the")} + ${hits("and")} + ${hits("of")} + ${hits("to")}"
    graft.ext.Sampling
      .rankNormalize(
        spreadDocs(s, dir).withColumn("score", expr(stopHits)),
        "source", "score")
      .select(col("doc_id"), col("source"), col("score"),
        col("rank_norm"))
      .orderBy(col("doc_id"))
  }

  val q118Sql: String = {
    val stopHits =
      s"${hits("the")} + ${hits("and")} + ${hits("of")} + ${hits("to")}"
    s"""SELECT doc_id, source, $stopHits AS score,
       |  percent_rank() OVER (PARTITION BY source ORDER BY $stopHits)
       |    AS rank_norm
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q120 — EXACT-k stratified sample
    * ([[graft.ext.Sampling.sampleExactK]]): exactly 10 docs per
    * source by the content-stable md5 order, reduced through the
    * k-bounded `topk_by` aggregate; the oracle is the naive
    * per-stratum ROW_NUMBER window. */
  def q120(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling
      .sampleExactK(spreadDocs(s, dir), "source", "doc_id", k = 10)
      .select(col("stratum"), col("id"), col("bucket"))
      .orderBy(col("stratum"), col("id"))

  val q120Sql: String =
    s"""WITH b AS (SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 1000000 AS bucket
       |  FROM documents),
       |r AS (SELECT source AS stratum, doc_id AS id, bucket,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY bucket DESC, doc_id ASC) AS rn FROM b)
       |SELECT stratum, id, bucket FROM r WHERE rn <= 10
       |ORDER BY stratum, id""".stripMargin

  /** q196 — perceptual dHash near-dup pairs
    * ([[graft.ext.Multimodal.dHash64]] — the img2dataset-style image
    * dedup staple, gated here over a DETERMINISTIC synthetic 9×8 grid
    * so the DuckDB oracle can replay the pixels: cell i = one md5
    * byte of the document's (i mod n)-th token, which makes documents
    * sharing most tokens differ in few grid cells, i.e. genuine SMALL
    * Hamming distances, not just exact copies). 63-bit dHash (bit k =
    * grid[r·9+c] > grid[r·9+c+1], the exact in-plan form of
    * `Multimodal.dHash64` — MultimodalSpec pins the two equal), then
    * the q35 SimHash serving shape: 4 × 16-bit banded blocking (a
    * pair within Hamming 3 shares ≥ 1 band by pigeonhole — exact
    * recall at the gate's radius) + a `bit_count(xor)` ≤ 3 filter.
    * Never all-pairs; candidates are band-key-blocked. The real-image
    * path ([[graft.ext.Multimodal.dHashOf]]: decode → exact
    * block-mean grayscale grid → the same hash) is spec-gated with
    * in-JVM PNGs, since pixel decode is not SQL-expressible. */
  /** Synthetic deterministic 9×8 grid + 63-bit dHash (shared by q196
    * and q198 — and mirrored cell for cell by both DuckDB oracles):
    * cell i = one md5 byte of the document's (i mod n)-th token, so
    * documents sharing most tokens land at SMALL Hamming distances. */
  private val dHashGridE =
    """transform(sequence(0, 71), i -> CAST(conv(substring(md5(
      |  element_at(toks, CAST(i % size(toks) AS INT) + 1)),
      |  1, 2), 16, 10) AS BIGINT))""".stripMargin
  private val dHashE =
    """aggregate(sequence(0, 62), 0L, (acc, k) -> acc +
      |  IF(element_at(g, CAST(k div 8 AS INT) * 9
      |       + CAST(k % 8 AS INT) + 1) >
      |     element_at(g, CAST(k div 8 AS INT) * 9
      |       + CAST(k % 8 AS INT) + 2),
      |     shiftleft(1L, CAST(k AS INT)), 0L))""".stripMargin
  /** tokens → grid → hash in ONE expression with `toks` and `g` each
    * BOUND ONCE (the single-element-array lambda trick): a withColumn
    * chain lets the optimizer inline the toks SPLIT into all 72 grid
    * references and the grid into all 126 bit references — measured
    * as the q199 optimizer hang and, at execution time, one regex
    * split per grid cell per evaluation. */
  private val dHashFromTextE: String =
    s"""element_at(transform(array(toks), toks ->
       |  element_at(transform(array($dHashGridE), g ->
       |    $dHashE), 1)), 1)""".stripMargin

  private def docDHashes(s: SparkSession, dir: String): DataFrame =
    spreadDocs(s, dir)
      .select(col("doc_id"), expr(toksE).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("dhash", expr(dHashFromTextE))
      .select(col("doc_id"), col("dhash"))

  /** 4×16-bit banded blocking + exact `bit_count(xor) ≤ 3` over a
    * (doc_id, dhash) frame — the q35 SimHash serving shape, shared by
    * the image (q196) and audio (q199) perceptual hashes. Never
    * all-pairs; candidates are band-key-blocked (pigeonhole-exact
    * recall at Hamming ≤ 3). */
  private def bandedHashPairs(dh0: DataFrame): DataFrame = {
    // pin the hash frame: without it Catalyst pushes the WHOLE
    // text→samples→grid→hash expression through the self-join and
    // re-evaluates it per band row on BOTH sides and again in the
    // final Hamming filter — per-PAIR recompute of a per-DOC value
    // (measured: q199 at sf0.1 went from stuck-for-40-min to
    // sub-second with the checkpoint)
    val dh = dh0.localCheckpoint()
    val banded = dh
      .select(col("doc_id"), col("dhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bits", expr(
        "shiftright(dhash, band * 16) & IF(band = 3, 32767, 65535)"))
    val a = banded.select(col("doc_id").as("a_id"),
      col("dhash").as("dh_a"), col("band"), col("bits"))
    val b = banded.select(col("doc_id").as("b_id"),
      col("dhash").as("dh_b"), col("band").as("bband"),
      col("bits").as("bbits"))
    a.join(b, col("band") === col("bband") &&
        col("bits") === col("bbits") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("dh_a"), col("dh_b"))
      .distinct() // a pair may agree in several bands
      .withColumn("hamming",
        expr("bit_count(dh_a ^ dh_b)").cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  def q196(s: SparkSession, dir: String): DataFrame =
    bandedHashPairs(docDHashes(s, dir))

  /** Shared DuckDB CTE prefix for the dHash oracles: tokens → 9×8
    * md5-byte grid → 63-bit dHash — mirrors [[dHashGridE]]/[[dHashE]]
    * cell for cell. */
  private val dHashCtesD: String =
    s"""tk AS (SELECT doc_id, $toksD AS toks FROM documents
       |  WHERE len($toksD) > 0),
       |gr AS (SELECT doc_id, list_transform(range(0, 72),
       |    i -> CAST(('0x' || substr(md5(toks[(i % len(toks)) + 1]),
       |      1, 2)) AS BIGINT)) AS g
       |  FROM tk),
       |dh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 63),
       |    k -> CASE WHEN g[(k // 8) * 9 + (k % 8) + 1] >
       |                   g[(k // 8) * 9 + (k % 8) + 2]
       |      THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END))
       |    AS BIGINT) AS dhash
       |  FROM gr)""".stripMargin

  /** DuckDB mirror of the 4×16-bit band rows ([[graft.ext.Multimodal
    * .dHashBandRows]] layout — band 3 masks to 15 bits). */
  private val dHashBandsD: String =
    """bands AS (SELECT doc_id, dhash, CAST(band AS VARCHAR) || ':' ||
      |    CAST((dhash >> (band * 16)) &
      |      CASE WHEN band = 3 THEN 32767 ELSE 65535 END AS VARCHAR)
      |    AS band_key
      |  FROM dh, (SELECT unnest(range(0, 4)) AS band))""".stripMargin

  /** The strong independent form: O(n²) all-pairs — right at sf0.01
    * (sub-second) where it independently PROVES banding recall. */
  private val q196SqlAllPairs: String =
    s"""WITH $dHashCtesD
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
       |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  /** The banded form: pigeonhole-EQUAL to all-pairs at Hamming ≤ 3
    * (a ≤3-bit difference cannot touch all four bands), but near-
    * linear — the sf0.1 selfcheck variant (~8 min all-pairs → secs).
    * Equality of the two SQLs is proven at sf0.01 per round. */
  private val q196SqlBanded: String =
    s"""WITH $dHashCtesD,
       |$dHashBandsD,
       |p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id)
       |SELECT p.a_id, p.b_id,
       |  CAST(bit_count(xor(da.dhash, db.dhash)) AS INT) AS hamming
       |FROM p JOIN dh da ON da.doc_id = p.a_id
       |  JOIN dh db ON db.doc_id = p.b_id
       |WHERE bit_count(xor(da.dhash, db.dhash)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  /** All-pairs by default (the driver gates at sf0.01, where the
    * strong form is right); SPARK_GRAFT_BANDED_ORACLE=1 swaps in the
    * proven-equal banded form for builder-side sf0.1 selfchecks,
    * whose all-pairs cost (~8 min) stalls the loop. */
  val q196Sql: String =
    if (sys.env.get("SPARK_GRAFT_BANDED_ORACLE").contains("1"))
      q196SqlBanded
    else q196SqlAllPairs

  /** q198 — INCREMENTAL image dHash near-dup
    * ([[graft.ext.Multimodal.dHashIncremental]]): batch 2 (doc_id ≥
    * cut) blocks against the dHash INDEX built from batch 1 — the
    * historical grids/pixels are gone; only (doc_id, band_key,
    * dhash) rows remain on disk, and verification is the EXACT
    * `bit_count(xor)` since the full hash rides in the index. NO
    * explicit hot-bucket cap: the probe derives `max(64, ceil(sqrt(
    * n_docs)))` from the index manifest and the oracle mirrors the
    * formula + exclusion in SQL (the q82 convention). Oracle:
    * batch-global banding restricted to pairs whose higher id is in
    * batch 2 — incremental banding over an id-split corpus discovers
    * exactly those pairs. */
  def q198(s: SparkSession, dir: String): DataFrame = {
    val cut = Tables(s, dir, "documents")
      .agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q198_idx")
    val dh = docDHashes(s, dir)
    // index append is eager inside dHashIncremental; batch 1's pair
    // frame is lazy and unread — don't force it
    graft.ext.Multimodal.dHashIncremental(
      dh.filter(col("doc_id") < cut), "doc_id", "dhash", idx)
    graft.ext.Multimodal.dHashIncremental(
      dh.filter(col("doc_id") >= cut), "doc_id", "dhash", idx)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q198Sql: String =
    s"""WITH $dHashCtesD,
       |cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS c
       |  FROM documents),
       |$dHashBandsD,
       |cap AS (SELECT GREATEST(64, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))
       |    AS v FROM dh),
       |hot AS (SELECT band_key FROM bands GROUP BY band_key
       |  HAVING COUNT(*) > (SELECT v FROM cap)),
       |p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id, cut
       |  WHERE b.doc_id >= c
       |    AND a.band_key NOT IN (SELECT band_key FROM hot))
       |SELECT p.a_id, p.b_id,
       |  CAST(bit_count(xor(da.dhash, db.dhash)) AS INT) AS hamming
       |FROM p JOIN dh da ON da.doc_id = p.a_id
       |  JOIN dh db ON db.doc_id = p.b_id
       |WHERE bit_count(xor(da.dhash, db.dhash)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  /** Synthetic deterministic PCM for q199 (so the DuckDB oracle can
    * replay the samples): 216 centered samples, 16 md5 bytes per
    * token cyclically — documents sharing most tokens produce mostly-
    * identical waveforms, i.e. genuine SMALL fingerprint distances. */
  private val audioSamplesE =
    """transform(sequence(0, 215), j -> CAST(conv(substring(md5(
      |  element_at(toks, CAST((j div 16) % size(toks) AS INT) + 1)),
      |  CAST((j % 16) * 2 + 1 AS INT), 2), 16, 10) AS BIGINT) - 128)""".stripMargin

  /** In-plan mirror of [[graft.ext.Multimodal.audioFrameGrid]] over
    * the 216-sample frame (9 frames × 24): 8 exact-integer features
    * per frame, laid out `g(feat·9 + frame)` so the shared [[dHashE]]
    * aggregate turns adjacent-frame comparisons into per-feature
    * temporal gradients. MultimodalSpec pins this expression equal to
    * the JVM function on the same samples. */
  private val audioGridE =
    """concat(
      |  transform(frs, fr -> aggregate(fr, 0L, (a, x) -> a + abs(x))),
      |  transform(frs, fr -> aggregate(sequence(1, 23), 0L, (a, i) ->
      |    a + abs(element_at(fr, CAST(i AS INT) + 1)
      |          - element_at(fr, CAST(i AS INT))))),
      |  transform(frs, fr -> aggregate(sequence(2, 23), 0L, (a, i) ->
      |    a + abs(element_at(fr, CAST(i AS INT) + 1)
      |          - element_at(fr, CAST(i AS INT) - 1)))),
      |  transform(frs, fr -> aggregate(sequence(3, 23), 0L, (a, i) ->
      |    a + abs(element_at(fr, CAST(i AS INT) + 1)
      |          - element_at(fr, CAST(i AS INT) - 2)))),
      |  transform(frs, fr -> aggregate(sequence(1, 23), 0L, (a, i) ->
      |    a + abs(element_at(fr, CAST(i AS INT) + 1)
      |          + element_at(fr, CAST(i AS INT))))),
      |  transform(frs, fr -> aggregate(fr, 0L, (a, x) ->
      |    greatest(a, abs(x)))),
      |  transform(frs, fr -> aggregate(sequence(1, 23), 0L, (a, i) ->
      |    a + IF(element_at(fr, CAST(i AS INT) + 1)
      |         * element_at(fr, CAST(i AS INT)) < 0, 1L, 0L))),
      |  transform(frs, fr -> aggregate(fr, 0L, (a, x) -> a + x * x)))""".stripMargin

  /** samples → fingerprint in ONE expression, each stage BOUND ONCE
    * via the single-element-array lambda trick (`transform(array(e),
    * v -> body)` makes `e` a runtime binding instead of a
    * substitutable alias). A plain withColumn chain lets the
    * optimizer inline `g` into all 126 references inside the bit
    * aggregate and the frames into each of those — a MULTIPLICATIVE
    * expression-tree explosion (~10⁷ nodes) that hangs optimization;
    * binding keeps the plan a DAG. Expects a `sm` array column;
    * exposed package-private so MultimodalSpec pins it equal to the
    * JVM [[graft.ext.Multimodal.audioFingerprint]] on raw samples. */
  private[graft] val audioFpFromSmE: String =
    s"""element_at(transform(array(transform(sequence(0, 8),
       |    f -> slice(sm, f * 24 + 1, 24))), frs ->
       |  element_at(transform(array($audioGridE), g ->
       |    $dHashE), 1)), 1)""".stripMargin

  /** text → samples → fingerprint with `toks` AND `sm` each bound
    * once (see [[dHashFromTextE]] — same inlining hazard, one more
    * stage). */
  private val audioFpFromTextE: String =
    s"""element_at(transform(array(toks), toks ->
       |  element_at(transform(array($audioSamplesE), sm ->
       |    $audioFpFromSmE), 1)), 1)""".stripMargin

  private def docAudioFps(s: SparkSession, dir: String): DataFrame =
    spreadDocs(s, dir)
      .select(col("doc_id"), expr(toksE).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("dhash", expr(audioFpFromTextE))
      .select(col("doc_id"), col("dhash"))

  /** q199 — audio near-dup fingerprint
    * ([[graft.ext.Multimodal.audioFingerprint]] — the chromaprint-
    * class dedup step of an audio-curation pipeline, in exact integer
    * arithmetic: 9 time frames × 8 frame features → per-feature
    * temporal-gradient bits → the shared 63-bit hash), gated over
    * DETERMINISTIC synthetic PCM so the DuckDB oracle replays the
    * samples, the frame features, and the hash bit for bit. Serving
    * is the SAME 4×16-bit banded blocking as the image hash (never
    * all-pairs); the oracle is all-pairs — the strong independent
    * form that proves banding recall. The real-audio path
    * ([[graft.ext.Multimodal.audioFingerprintOf]]: WAV decode → exact
    * 16-bit ints → the same grid/hash) is spec-gated with in-JVM
    * synthetic WAVs, since PCM decode is not SQL-expressible. */
  def q199(s: SparkSession, dir: String): DataFrame =
    bandedHashPairs(docAudioFps(s, dir))

  val q199Sql: String =
    s"""WITH tk AS (SELECT doc_id, $toksD AS toks FROM documents
       |  WHERE len($toksD) > 0),
       |smp AS (SELECT doc_id, list_transform(range(0, 216),
       |    j -> CAST(('0x' || substr(md5(toks[((j // 16) % len(toks)) + 1]),
       |      (j % 16) * 2 + 1, 2)) AS BIGINT) - 128) AS sm
       |  FROM tk),
       |frm AS (SELECT doc_id, list_transform(range(0, 9),
       |    f -> list_transform(range(0, 24), i -> sm[f * 24 + i + 1]))
       |    AS frs
       |  FROM smp),
       |grd AS (SELECT doc_id,
       |    list_transform(frs, fr -> CAST(list_sum(list_transform(fr,
       |      x -> abs(x))) AS BIGINT))
       |    || list_transform(frs, fr -> CAST(list_sum(list_transform(
       |      range(1, 24), i -> abs(fr[i + 1] - fr[i]))) AS BIGINT))
       |    || list_transform(frs, fr -> CAST(list_sum(list_transform(
       |      range(2, 24), i -> abs(fr[i + 1] - fr[i - 1]))) AS BIGINT))
       |    || list_transform(frs, fr -> CAST(list_sum(list_transform(
       |      range(3, 24), i -> abs(fr[i + 1] - fr[i - 2]))) AS BIGINT))
       |    || list_transform(frs, fr -> CAST(list_sum(list_transform(
       |      range(1, 24), i -> abs(fr[i + 1] + fr[i]))) AS BIGINT))
       |    || list_transform(frs, fr -> CAST(list_max(list_transform(fr,
       |      x -> abs(x))) AS BIGINT))
       |    || list_transform(frs, fr -> CAST(list_sum(list_transform(
       |      range(1, 24), i -> CASE WHEN fr[i + 1] * fr[i] < 0
       |        THEN 1 ELSE 0 END)) AS BIGINT))
       |    || list_transform(frs, fr -> CAST(list_sum(list_transform(fr,
       |      x -> x * x)) AS BIGINT)) AS g
       |  FROM frm),
       |dh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 63),
       |    k -> CASE WHEN g[(k // 8) * 9 + (k % 8) + 1] >
       |                   g[(k // 8) * 9 + (k % 8) + 2]
       |      THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END))
       |    AS BIGINT) AS dhash
       |  FROM grd)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
       |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  /** q206 — DELETE-AWARE incremental LM counts
    * ([[graft.ext.TextAnalysis.lmCountsCdfSync]] — the change-feed
    * consumer the r15 verdict's #1 gap called out by name: an LM
    * maintained from an append-only tail silently keeps the n-grams
    * of every right-to-be-forgotten document): the corpus folds into
    * a curated graft table through append + DELETE + keyed MERGE,
    * with the LM count table synced from the CHANGE FEED between each
    * commit (inserted text adds counts, deleted text appends NEGATED
    * counts, updates do both); after a physical `GRAFT COMPACT INDEX`
    * fold, the served model's per-order gram inventory must
    * hash-match the oracle's model trained directly on the table's
    * FINAL content — retracted grams gone, merged-in tokens present. */
  def q206(s: SparkSession, dir: String): DataFrame = {
    import graft.sink.CdcTable
    val docs = spreadDocs(s, dir).select(col("doc_id"), col("text"))
    val tbl = QueryDef.scratchDir("graft_q206_tbl")
    val lm = QueryDef.scratchDir("graft_q206_lm")
    def sync(): Unit = {
      graft.ext.TextAnalysis.lmCountsCdfSync(s, tbl, lm); ()
    }
    CdcTable.append(docs.filter(col("doc_id") % 2 === 0), tbl,
      partitionBy = Nil)
    sync()
    CdcTable.append(docs.filter(col("doc_id") % 2 === 1), tbl,
      partitionBy = Nil)
    CdcTable.delete(s, tbl, "doc_id % 5 = 0", partitionBy = Nil)
    sync()
    CdcTable.merge(s, tbl,
      docs.filter(col("doc_id") % 11 === 1)
        .withColumn("text", concat(col("text"), lit(" zzquux"))),
      Seq("doc_id"), partitionBy = Nil)
    sync()
    s.sql(s"GRAFT COMPACT INDEX '$lm'").collect()
    val (u, b, t) = graft.ext.TextAnalysis.lmCountsRead(s, lm)
    def agg(o: Int, f: DataFrame): DataFrame = f.agg(
      count(lit(1)).as("n_grams"),
      sum(col("c")).cast("long").as("total_cnt"),
      max(col("c")).cast("long").as("max_cnt"))
      .select(lit(o).as("n_order"), col("n_grams"), col("total_cnt"),
        col("max_cnt"))
    agg(1, u).unionByName(agg(2, b)).unionByName(agg(3, t))
      .orderBy(col("n_order"))
  }

  val q206Sql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |d1 AS (SELECT * FROM base WHERE NOT (doc_id % 5 = 0)),
       |msrc AS (SELECT doc_id, text || ' zzquux' AS text
       |  FROM base WHERE doc_id % 11 = 1),
       |final AS (SELECT * FROM d1
       |    WHERE doc_id NOT IN (SELECT doc_id FROM msrc)
       |  UNION ALL SELECT * FROM msrc),
       |tk AS (SELECT doc_id, $toksD AS toks FROM final),
       |un AS (SELECT unnest(toks) AS k FROM tk),
       |bg AS (SELECT unnest(list_transform(
       |    range(1, greatest(len(toks), 1)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS k FROM tk),
       |tg AS (SELECT unnest(list_transform(
       |    range(1, greatest(len(toks) - 1, 1)),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    AS k FROM tk),
       |gc AS (
       |  SELECT 1 AS n_order, k, COUNT(*) AS c FROM un GROUP BY k
       |  UNION ALL
       |  SELECT 2, k, COUNT(*) FROM bg GROUP BY k
       |  UNION ALL
       |  SELECT 3, k, COUNT(*) FROM tg GROUP BY k)
       |SELECT n_order, COUNT(*) AS n_grams,
       |  CAST(SUM(c) AS BIGINT) AS total_cnt,
       |  CAST(MAX(c) AS BIGINT) AS max_cnt
       |FROM gc GROUP BY n_order ORDER BY n_order""".stripMargin

  /** q192 — weighted sampling without replacement
    * ([[graft.ext.Sampling.weightedSampleK]], Efraimidis & Spirakis
    * 2006 A-Res): 25 documents drawn with probability proportional to
    * `n_chars`, RNG-free (u from the md5-prefix of doc_id), ranked by
    * the exact fixed-point A-Res key — the oracle replays the
    * `fixed_log2` recurrence and hash-matches the selected set. */
  def q192(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling
      .weightedSampleK(Tables(s, dir, "documents"), "doc_id",
        "n_chars", 25)
      .select(col("doc_id"), col("n_chars").as("weight"),
        col("ares_fp"))
      // presentation order mirrors weightedSampleK's internal
      // tiebreak AND the oracle's ORDER BY (ares_fp, md5(doc_id),
      // doc_id): on an ares_fp tie among the selected 25 — likely at
      // larger scales since u28 is a 28-bit md5 prefix — a plain
      // (ares_fp, doc_id) order would emit tied rows differently
      // from the oracle and fail the hash gate on an identical set
      .orderBy(col("ares_fp"), md5(col("doc_id").cast("string")),
        col("doc_id"))

  val q192Sql: String =
    s"""WITH uu AS (SELECT doc_id, n_chars,
       |    md5(CAST(doc_id AS VARCHAR)) AS h,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) + 1 AS p_fp
       |  FROM documents WHERE n_chars IS NOT NULL
       |    AND CAST(ROUND(n_chars * 1e6) AS BIGINT) > 0),
       |lgt AS (${flog2D("uu", Seq("n_chars", "h"))}),
       |sel AS (SELECT doc_id, n_chars,
       |    (1835008 - lg) * 1000000 * 1000000
       |      // CAST(ROUND(n_chars * 1e6) AS BIGINT) AS ares_fp, h
       |  FROM lgt)
       |SELECT doc_id, n_chars AS weight, ares_fp FROM sel
       |ORDER BY ares_fp, h, doc_id LIMIT 25""".stripMargin

  /** q202 — INCREMENTAL weighted sampling
    * ([[graft.ext.Sampling.weightedSampleIncremental]]): the corpus
    * folds through the k-row A-Res state table in three id-split
    * batches; because A-Res keys are RNG-free content functions and
    * bounded top-k is a mergeable monoid, the state after the last
    * batch equals the batch-global q192 selection bit for bit — same
    * oracle. */
  def q202(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val hi = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (c1, c2) = (hi / 3, 2 * hi / 3)
    val state = QueryDef.scratchDir("graft_q202_sample")
    graft.ext.Sampling.weightedSampleIncremental(
      docs.filter(col("doc_id") <= c1), "doc_id", "n_chars", 25, state)
    graft.ext.Sampling.weightedSampleIncremental(
      docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
      "doc_id", "n_chars", 25, state)
    graft.ext.Sampling.weightedSampleIncremental(
      docs.filter(col("doc_id") > c2), "doc_id", "n_chars", 25, state)
    graft.sink.CdcTable.read(s, state)
      .select(col("doc_id"), col("n_chars").as("weight"),
        col("ares_fp"))
      .orderBy(col("ares_fp"), md5(col("doc_id").cast("string")),
        col("doc_id"))
  }

  /** q121 — span-level boilerplate REMOVAL
    * ([[graft.ext.Dedup.spanDedupRewrite]]): q73 reports the damage,
    * this op repairs it — cross-doc 3-token spans cut from every
    * document and the text reassembled from kept spans + remainder.
    * The oracle replays span cutting, the 56-bit ids, the df filter,
    * and the ORDERED string reassembly, so `kept_text` itself is
    * hash-pinned. */
  def q121(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup
      .spanDedupRewrite(spreadDocs(s, dir), "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_spans"), col("n_boiler"),
        col("kept_text"))
      .orderBy(col("doc_id"))

  val q121Sql: String =
    s"""WITH tk AS (SELECT doc_id, $toksD AS toks FROM documents),
       |b AS (SELECT doc_id, toks, len(toks) // 3 AS nsp FROM tk),
       |sp AS (SELECT doc_id, i AS pos,
       |    array_to_string(toks[i*3+1 : i*3+3], ' ') AS txt
       |  FROM (SELECT doc_id, toks, unnest(range(0, nsp)) AS i FROM b)),
       |sd AS (SELECT doc_id, pos, txt,
       |    CAST(('0x' || substr(md5(txt), 1, 14)) AS BIGINT) AS sid
       |  FROM sp),
       |boiler AS (SELECT sid FROM
       |    (SELECT DISTINCT doc_id, sid FROM sd)
       |  GROUP BY sid HAVING COUNT(*) >= 3),
       |kept AS (SELECT doc_id, pos, txt FROM sd
       |  WHERE sid NOT IN (SELECT sid FROM boiler)),
       |asm AS (SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(txt, ' ' ORDER BY pos) AS spans_txt
       |  FROM kept GROUP BY doc_id)
       |SELECT b.doc_id, CAST(nsp AS BIGINT) AS n_spans,
       |  CAST(nsp - COALESCE(n_kept, 0) AS BIGINT) AS n_boiler,
       |  trim(concat_ws(' ', COALESCE(spans_txt, ''),
       |    array_to_string(toks[nsp*3+1 : len(toks)], ' ')))
       |    AS kept_text
       |FROM b LEFT JOIN asm ON b.doc_id = asm.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** q124 — classifier-gated quality cut, END TO END under the
    * oracle: train the linear probe (q112), score every doc (q113),
    * keep exactly the best ⌈n/2⌉ via the sortless cut (q106's
    * machinery) — the whole composition hash-pinned in one gate,
    * not just its stages. The oracle chains the full GD unroll into
    * the naive global-sort selection. */
  def q124(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val scored = graft.ext.Classifier
      .score(docs, "doc_id",
        graft.ext.Classifier.train(docs, "doc_id", col("lang") === "en"))
      .select(col("id").as("doc_id"), col("score_fp"))
      // pin: topFraction reads its input for the histogram, the
      // above-threshold filter AND the tie branch — unpinned, each
      // evaluation would re-run the whole GD training
      .localCheckpoint()
    graft.ext.Sampling
      .topFraction(scored, "score_fp", "doc_id", keepNum = 1, keepDen = 2)
      .select(col("doc_id"), col("score_fp"))
      .orderBy(col("doc_id"))
  }

  val q124Sql: String =
    s"""$classifierBodyD,
       |sc AS (SELECT doc_id,
       |    CAST(SUM(COALESCE(w, 0)) AS BIGINT) AS score_fp
       |  FROM f LEFT JOIN w3 USING (fid) GROUP BY doc_id),
       |allsc AS (SELECT d.doc_id, COALESCE(score_fp, 0) AS score_fp
       |  FROM documents d LEFT JOIN sc USING (doc_id)),
       |r AS (SELECT doc_id, score_fp, ROW_NUMBER() OVER (
       |    ORDER BY score_fp DESC,
       |      md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
       |  FROM allsc)
       |SELECT doc_id, score_fp FROM r
       |WHERE rn <= CEIL((SELECT COUNT(*) FROM documents) / 2.0)
       |ORDER BY doc_id""".stripMargin

  /** q128 — per-document token-entropy quality signal
    * ([[graft.ext.TextAnalysis.tokenEntropy]]): unigram entropy +
    * type-token ratio in 16.16 fixed point, exact integers end to
    * end, so the oracle (which replays the `fixed_log2` squaring
    * recurrence for every distinct (doc, count) pair AND for each
    * doc's token total) hash-matches both scores bit for bit. */
  def q128(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.tokenEntropy(spreadDocs(s, dir), "doc_id")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_types"),
        col("ttr_fp"), col("entropy_fp"))
      .orderBy(col("doc_id"))

  val q128Sql: String =
    s"""WITH tk AS (SELECT doc_id, unnest($toksD) AS tok FROM documents),
       |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk
       |  GROUP BY doc_id, tok),
       |cg AS (SELECT doc_id, c, COUNT(*) AS k, c AS p_fp FROM tc
       |  GROUP BY doc_id, c),
       |clg AS (${flog2D("cg", Seq("c", "k"))}),
       |agg AS (SELECT doc_id, CAST(SUM(c * k) AS BIGINT) AS n_tokens,
       |    CAST(SUM(k) AS BIGINT) AS n_types,
       |    CAST(SUM(k * c * lg) AS BIGINT) AS num
       |  FROM clg GROUP BY doc_id),
       |nn AS (SELECT doc_id, n_tokens AS p_fp FROM agg),
       |nlg AS (${flog2D("nn")})
       |SELECT a.doc_id, a.n_tokens, a.n_types,
       |  (65536 * a.n_types) // a.n_tokens AS ttr_fp,
       |  nlg.lg - (a.num // a.n_tokens) AS entropy_fp
       |FROM agg a JOIN nlg USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin

  /** q130 — leakage-safe cluster-aware split
    * ([[graft.ext.Sampling.clusterSplit]]): train/val/test assignment
    * by near-dup CLUSTER (the q94 machinery's components) instead of
    * doc id, so near-duplicates never straddle the cut. The oracle
    * replays the whole MinHash → LSH → verify → RECURSIVE closure
    * pipeline AND the md5 split rule, so group ids and split labels
    * both hash-match. */
  def q130(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val res = graft.ext.Dedup.near(docs, "text", "doc_id")
    graft.ext.Sampling
      .clusterSplit(docs.select(col("doc_id")), "doc_id",
        res.components)
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  val q130Sql: String =
    s"""$clusterBodyD,
       |grp AS (SELECT dd.doc_id,
       |    COALESCE(l.component, dd.doc_id) AS group_id
       |  FROM documents dd LEFT JOIN lab l ON l.id = dd.doc_id),
       |sp AS (SELECT doc_id, group_id,
       |    CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 100 AS bucket FROM grp)
       |SELECT doc_id, group_id,
       |  CASE WHEN bucket < 80 THEN 'train'
       |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |FROM sp ORDER BY doc_id""".stripMargin

  /** q131 — n-gram novelty ([[graft.ext.TextAnalysis.ngramNovelty]]):
    * the fraction of each document's distinct 3-token shingles that
    * appear in no other document — the uniqueness / memorization-risk
    * signal. Exact integer novelty, so scores hash-match. */
  def q131(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.ngramNovelty(spreadDocs(s, dir), "doc_id")
      .select(col("id").as("doc_id"), col("n_shingles"),
        col("n_novel"), col("novelty_fp"))
      .orderBy(col("doc_id"))

  val q131Sql: String =
    s"""WITH e AS (SELECT doc_id,
       |    unnest(list_transform($shinglesD, t -> ${tokD("t")})) AS sh
       |  FROM documents),
       |d2 AS (SELECT sh, COUNT(*) AS df FROM e GROUP BY sh)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  (1000000 * CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT)) // COUNT(*) AS novelty_fp
       |FROM e JOIN d2 USING (sh) GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** q132 — skip-gram pair extraction
    * ([[graft.ext.TextAnalysis.skipgramPairs]]): word2vec-style
    * (center, context) co-occurrence counts at distance ≤ 2,
    * emitted array-locally (no positional self-join) — the only
    * shuffle is the vocabulary²-bounded count. */
  def q132(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.skipgramPairs(spreadDocs(s, dir))
      .orderBy(col("center"), col("context"))

  val q132Sql: String = {
    def pairsAt(d: Int) =
      s"""flatten(list_transform(range(1, greatest(len(toks) - $d + 1, 1)),
         |  i -> [toks[i] || '|' || toks[i+$d],
         |        toks[i+$d] || '|' || toks[i]]))""".stripMargin
    s"""WITH tk AS (SELECT $toksD AS toks FROM documents),
       |pr AS (SELECT unnest(list_concat(
       |    ${pairsAt(1)},
       |    ${pairsAt(2)})) AS pr FROM tk)
       |SELECT string_split(pr, '|')[1] AS center,
       |  string_split(pr, '|')[2] AS context, COUNT(*) AS cnt
       |FROM pr GROUP BY 1, 2 ORDER BY center, context""".stripMargin
  }

  /** q133 — intra-document span dedup
    * ([[graft.ext.Dedup.selfSpanDedup]]): repeated 3-token spans
    * WITHIN a document keep only their first occurrence and the doc
    * is reassembled — the self-repetition cleanup. Array-local end to
    * end, and the cleaned TEXT itself hash-matches the oracle's
    * list-HOF replay. */
  def q133(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.selfSpanDedup(spreadDocs(s, dir), "doc_id")
      .select(col("id").as("doc_id"), col("n_spans"), col("n_dupes"),
        col("clean_text"))
      .orderBy(col("doc_id"))

  val q133Sql: String =
    s"""WITH b AS (SELECT doc_id, $toksD AS toks FROM documents),
       |s AS (SELECT doc_id, toks, len(toks) // 3 AS nsp FROM b),
       |sp AS (SELECT doc_id, toks, nsp,
       |    CASE WHEN nsp >= 1 THEN list_transform(range(1, nsp + 1),
       |      i -> array_to_string(toks[(i-1)*3+1 : (i-1)*3+3], ' '))
       |    ELSE [] END AS spans FROM s),
       |h AS (SELECT doc_id, toks, nsp, spans,
       |    list_transform(spans,
       |      s -> CAST(('0x' || substr(md5(s), 1, 14)) AS BIGINT))
       |      AS sids FROM sp),
       |k AS (SELECT doc_id, toks, nsp, spans,
       |    CASE WHEN len(sids) >= 1 THEN
       |      list_filter(range(1, len(sids) + 1),
       |        i -> list_position(sids, sids[i]) = i)
       |    ELSE [] END AS keep FROM h)
       |SELECT doc_id, CAST(nsp AS BIGINT) AS n_spans,
       |  CAST(nsp - len(keep) AS BIGINT) AS n_dupes,
       |  trim(concat_ws(' ',
       |    array_to_string(list_transform(keep, i -> spans[i]), ' '),
       |    array_to_string(toks[nsp*3+1 : len(toks)], ' ')))
       |    AS clean_text
       |FROM k ORDER BY doc_id""".stripMargin

  /** q147 — INCREMENTAL MOSS overlap via the winnowed-fingerprint
    * index ([[graft.ext.Dedup.winnowIncremental]]): the corpus lands
    * in THREE exactly-once batches (id-sliced); each batch probes the
    * fingerprints of everything already ingested and appends its own.
    * Every qualifying pair is reported exactly once across the
    * arrival history, so the UNION of the three calls equals the
    * batch-global winnowed containment result — which is exactly what
    * the oracle computes, proving batch-sliced arrival invisible. */
  def q147(s: SparkSession, dir: String): DataFrame = {
    val idx = QueryDef.scratchDir("winidx")
    val docs = spreadDocs(s, dir)
    (0 until 3).map { b =>
      graft.ext.Dedup.winnowIncremental(
        docs.filter(col("doc_id") % 3 === b), "text", "doc_id", idx,
        threshold = 0.5, txn = Some(("q147", b.toLong)),
        maxFpDocFreq = Some(Int.MaxValue))
    }.reduce(_ unionByName _)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q147Sql: String =
    s"""$winnowBodyD,
       |d AS (SELECT doc_id,
       |    list_distinct(list_transform(ps, p -> hs[p])) AS sids
       |  FROM sel),
       |dm AS (SELECT doc_id, sids, len(sids) AS m FROM d
       |  WHERE len(sids) > 0),
       |e AS (SELECT doc_id, sh
       |  FROM (SELECT doc_id, unnest(sids) AS sh FROM dm)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM e a JOIN e b
       |    ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |v AS (SELECT c.a_id, c.b_id, da.m AS ma, db.m AS mb,
       |    len(list_intersect(da.sids, db.sids)) AS inter
       |  FROM cand c
       |  JOIN dm da ON da.doc_id = c.a_id
       |  JOIN dm db ON db.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       |  CAST(ma AS INTEGER) AS ma, CAST(mb AS INTEGER) AS mb,
       |  CAST(inter AS DOUBLE) / least(ma, mb) AS containment
       |FROM v
       |WHERE CAST(inter AS DOUBLE) / least(ma, mb) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  /** q146 — blocklist filtering
    * ([[graft.ext.TextAnalysis.blocklistFilter]], the C4 bad-word
    * rule): per-doc occurrence count of blocklisted tokens
    * (case-insensitive whole-token matches against a constant-folded
    * literal list) and the drop decision. Array-local membership
    * probes — scan-speed at any corpus size. */
  def q146(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.blocklistFilter(
        Tables(s, dir, "documents"), "doc_id",
        Seq("slow", "broken", "nonexistent_term"))
      .select(col("id").as("doc_id"), col("n_hits"), col("keep"))
      .orderBy(col("doc_id"))

  val q146Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split_regex(trim(lower(text)),
       |    '\\s+'), t -> list_contains(['slow', 'broken',
       |    'nonexistent_term'], t))) AS BIGINT) AS n_hits,
       |  len(list_filter(string_split_regex(trim(lower(text)),
       |    '\\s+'), t -> list_contains(['slow', 'broken',
       |    'nonexistent_term'], t))) = 0 AS keep
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Shared winnow CTE prefix (k=3, w=4): positional 56-bit k-gram
    * hashes, each window's rightmost minimum, distinct selected
    * positions — the DuckDB replay of [[graft.ext.Dedup
    * .winnowFingerprints]]'s array-local selection. */
  // lazy: referenced by q147Sql, which is declared earlier in the
  // object — a strict val would render as null there
  private lazy val winnowBodyD: String =
    s"""WITH b AS (SELECT doc_id, $toksD AS toks FROM documents),
       |s AS (SELECT doc_id, toks, len(toks) - 2 AS ng FROM b
       |  WHERE len(toks) - 2 >= 1),
       |h AS (SELECT doc_id, ng, LEAST(4, ng) AS ww,
       |    list_transform(range(1, ng + 1), i ->
       |      CAST(('0x' || substr(md5(array_to_string(
       |        toks[i:i+2], ' ')), 1, 14)) AS BIGINT)) AS hs FROM s),
       |sel AS (SELECT doc_id, hs,
       |    list_distinct(list_transform(range(1, ng - ww + 2), j ->
       |      j + ww - list_position(list_reverse(hs[j:j+ww-1]),
       |        list_min(hs[j:j+ww-1])))) AS ps FROM h)""".stripMargin

  /** q144 — winnowing fingerprint selection
    * ([[graft.ext.Dedup.winnowFingerprints]], Schleimer et al. SIGMOD
    * 2003 / the MOSS scheme): each 4-window of the positional 3-gram
    * hash sequence selects its rightmost minimum; any shared run of
    * ≥ 6 tokens shares a fingerprint at ~2/(w+1) storage. The oracle
    * replays the whole selection (hashes, window argmins, tie rule),
    * so positions AND fingerprint values hash-match. */
  def q144(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.winnowFingerprints(spreadDocs(s, dir), "doc_id")
      .select(col("id").as("doc_id"), col("pos"), col("fp"))
      .orderBy(col("doc_id"), col("pos"))

  val q144Sql: String =
    s"""$winnowBodyD
       |SELECT doc_id, CAST(p AS INT) AS pos, hs[p] AS fp
       |FROM (SELECT doc_id, hs, unnest(ps) AS p FROM sel)
       |ORDER BY doc_id, pos""".stripMargin

  /** q145 — MOSS-style overlap pairs over the WINNOWED fingerprints
    * ([[graft.ext.Dedup.winnowSids]] feeding the df-capped pair
    * core): q33's Jaccard machinery on ~2/(w+1) of the shingle
    * volume, with the winnowing guarantee that any ≥ 6-token shared
    * run still meets in a bucket — the principled index-compression
    * knob measured against the exact formulation's thresholds. */
  def q145(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.ngramJaccardPairsFromSids(
        graft.ext.Dedup.winnowSids(spreadDocs(s, dir), "doc_id"),
        threshold = 0.3, maxShingleDocFreq = Some(25L))
      .orderBy(col("a_id"), col("b_id"))

  val q145Sql: String =
    s"""$winnowBodyD,
       |d AS (SELECT doc_id,
       |    list_distinct(list_transform(ps, p -> hs[p])) AS sids
       |  FROM sel),
       |dm AS (SELECT doc_id, sids, len(sids) AS m FROM d
       |  WHERE len(sids) > 0),
       |e AS (SELECT doc_id, sh
       |  FROM (SELECT doc_id, unnest(sids) AS sh FROM dm)),
       |hot AS (SELECT sh FROM e GROUP BY sh HAVING COUNT(*) > 25),
       |kept AS (SELECT e.* FROM e
       |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.sh = e.sh)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM kept a JOIN kept b
       |    ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |v AS (SELECT c.a_id, c.b_id, da.m AS ma, db.m AS mb,
       |    len(list_intersect(da.sids, db.sids)) AS inter
       |  FROM cand c
       |  JOIN dm da ON da.doc_id = c.a_id
       |  JOIN dm db ON db.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       |  CAST(ma + mb - inter AS BIGINT) AS union_size,
       |  CAST(inter AS DOUBLE) / (ma + mb - inter) AS jaccard
       |FROM v
       |WHERE CAST(inter AS DOUBLE) / (ma + mb - inter) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** q135 — BM25 via the PERSISTED inverted index
    * ([[graft.ext.TextAnalysis.writeLexicalIndex]]/`probeLexical`):
    * q92's ranking produced from token-bucket-partitioned posting
    * lists instead of a corpus scan — the probe reads only the query
    * terms' partitions (static pruning). The oracle is the FULL-SCAN
    * formulation, so the gate proves index + probe reproduce it bit
    * for bit. */
  def q135(s: SparkSession, dir: String): DataFrame = {
    val idx = QueryDef.scratchDir("lexidx")
    graft.ext.TextAnalysis
      .writeLexicalIndex(Tables(s, dir, "documents"), idx, "doc_id")
    graft.ext.TextAnalysis
      .probeLexical(s, idx, "vector hash join merge", k = 10)
      .select(col("id").as("doc_id"), col("n_terms_hit"),
        col("score_fp"), col("score"))
  }

  val q135Sql: String = q92Sql // the gate: probe ≡ full-corpus scan

  /** q136 — BM25 via the INCREMENTAL lexical index
    * ([[graft.ext.TextAnalysis.lexicalIndexAppend]]): the corpus
    * lands in THREE exactly-once batches (id-sliced), then a probe
    * with manifest-level bucket pruning ranks across every batch.
    * Oracle = the full-scan formulation, so the gate proves
    * batch-sliced arrival is invisible to the ranking. */
  def q136(s: SparkSession, dir: String): DataFrame = {
    val idx = QueryDef.scratchDir("lexinc")
    val docs = Tables(s, dir, "documents")
    for (b <- 0 until 3)
      graft.ext.TextAnalysis.lexicalIndexAppend(
        docs.filter(col("doc_id") % 3 === b), idx, "doc_id",
        txn = Some(("q136", b.toLong)))
    graft.ext.TextAnalysis
      .probeLexicalTable(s, idx, "vector hash join merge", k = 10)
      .select(col("id").as("doc_id"), col("n_terms_hit"),
        col("score_fp"), col("score"))
  }

  val q136Sql: String = q92Sql // incremental arrival ≡ full scan

  /** q141 — BM25 probe after `GRAFT COMPACT INDEX`
    * ([[graft.ext.TextAnalysis.compactLexicalIndex]] via the SQL
    * surface): the q136 flow — three exactly-once posting batches —
    * then the index FOLDS to one replace commit (bucket-partitioned
    * postings, one-row totals) and the probe ranks against the
    * compacted snapshot. Oracle = the full-scan formulation, so the
    * gate proves compaction is ranking-invariant — the maintenance
    * op every long-lived streaming index needs (one commit per
    * micro-batch is thousands of files within days). */
  def q141(s: SparkSession, dir: String): DataFrame = {
    val idx = QueryDef.scratchDir("lexcmp")
    val docs = Tables(s, dir, "documents")
    for (b <- 0 until 3)
      graft.ext.TextAnalysis.lexicalIndexAppend(
        docs.filter(col("doc_id") % 3 === b), idx, "doc_id",
        txn = Some(("q141", b.toLong)))
    s.sql(s"GRAFT COMPACT INDEX '$idx'").collect()
    graft.ext.TextAnalysis
      .probeLexicalTable(s, idx, "vector hash join merge", k = 10)
      .select(col("id").as("doc_id"), col("n_terms_hit"),
        col("score_fp"), col("score"))
  }

  val q141Sql: String = q92Sql // compaction ≡ full scan

  /** q137 — contrastive positive pairs
    * ([[graft.ext.Dedup.positivePairs]]): every same-cluster ordered
    * pair with its cluster id — the naturally-occurring positives a
    * contrastive embedding pipeline trains on (hard negatives come
    * from q116/q119). Transitive-closure semantics: the oracle labels
    * clusters with the RECURSIVE closure and enumerates pairs from
    * the labeling, not from the verified edge list. */
  def q137(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    graft.ext.Dedup.positivePairs(
        graft.ext.Dedup.near(docs, "text", "doc_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q137Sql: String =
    s"""$clusterBodyD
       |SELECT a.component AS cluster_id, a.id AS a_id, b.id AS b_id
       |FROM lab a JOIN lab b
       |  ON a.component = b.component AND a.id < b.id
       |ORDER BY a_id, b_id""".stripMargin

  /** q138 — PMI collocations
    * ([[graft.ext.TextAnalysis.pmiCollocations]]): the top-20 token
    * pairs whose co-occurrence most exceeds what their frequencies
    * predict — exact fixed-point PMI via two `fixed_log2`
    * recurrences, both replayed by the oracle, so scores AND the
    * ranking hash-match. */
  def q138(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.pmiCollocations(spreadDocs(s, dir))
      .orderBy(col("pmi_fp").desc, col("center"), col("context"))

  val q138Sql: String = {
    def pairsAt(d: Int) =
      s"""flatten(list_transform(range(1, greatest(len(toks) - $d + 1, 1)),
         |  i -> [toks[i] || '|' || toks[i+$d],
         |        toks[i+$d] || '|' || toks[i]]))""".stripMargin
    s"""WITH tk AS (SELECT $toksD AS toks FROM documents),
       |pr AS (SELECT unnest(list_concat(
       |    ${pairsAt(1)},
       |    ${pairsAt(2)})) AS pr FROM tk),
       |pc AS (SELECT string_split(pr, '|')[1] AS center,
       |    string_split(pr, '|')[2] AS context, COUNT(*) AS cnt
       |  FROM pr GROUP BY 1, 2),
       |mg AS (SELECT center AS tokm, CAST(SUM(cnt) AS BIGINT) AS m
       |  FROM pc GROUP BY center),
       |nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pc),
       |pa AS (SELECT f.center, f.context, f.cnt,
       |    ma.m AS m_a, mb.m AS m_b, (SELECT n FROM nt) AS n
       |  FROM pc f JOIN mg ma ON f.center = ma.tokm
       |    JOIN mg mb ON f.context = mb.tokm
       |  WHERE f.cnt >= 5),
       |lain AS (SELECT center || '|' || context AS doc_id, center,
       |    context, cnt, CAST(cnt * n AS BIGINT) AS p_fp FROM pa),
       |la AS (${flog2D("lain", Seq("center", "context", "cnt"))}),
       |lbin AS (SELECT center || '|' || context AS doc_id,
       |    CAST(m_a * m_b AS BIGINT) AS p_fp FROM pa),
       |lb AS (${flog2D("lbin")})
       |SELECT la.center, la.context, la.cnt, la.lg - lb.lg AS pmi_fp
       |FROM la JOIN lb USING (doc_id)
       |ORDER BY pmi_fp DESC, center, context LIMIT 20""".stripMargin
  }

  /** q148 — Stupid Backoff trigram LM scoring
    * ([[graft.ext.TextAnalysis.stupidBackoff]], Brants et al.
    * EMNLP 2007): every document's exact 16.16 fixed-point bits under
    * a self-trained trigram model with α = 0.4 backoff — the
    * count-based LM designed for distributed corpora (no
    * discounting/normalization pass: training is a map-side count,
    * serving three key-local joins against sharded count tables).
    * The oracle rebuilds all three count tables in SQL and replays
    * the `fixed_log2` recurrence over the DISTINCT numerator/
    * denominator counts (a bounded value domain), so per-position
    * backoff levels AND total bits hash-match bit for bit. */
  def q148(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.stupidBackoff(spreadDocs(s, dir), "doc_id")
      .select(col("id").as("doc_id"), col("n_pos"), col("tri_hits"),
        col("bi_hits"), col("uni_hits"), col("bits_fp"), col("bpt_fp"))
      .orderBy(col("doc_id"))

  val q148Sql: String =
    s"""WITH tk AS (SELECT doc_id, $toksD AS toks FROM documents),
       |un AS (SELECT unnest(toks) AS w FROM tk),
       |uc AS (SELECT w, COUNT(*) AS c FROM un GROUP BY w),
       |bg AS (SELECT unnest(list_transform(
       |    range(1, greatest(len(toks), 1)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS k FROM tk),
       |bc_ AS (SELECT k, COUNT(*) AS c FROM bg GROUP BY k),
       |tg AS (SELECT unnest(list_transform(
       |    range(1, greatest(len(toks) - 1, 1)),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    AS k FROM tk),
       |tc_ AS (SELECT k, COUNT(*) AS c FROM tg GROUP BY k),
       |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
       |pos AS (SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(toks) - 1, 1)),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    AS k3 FROM tk),
       |px AS (SELECT doc_id, k3,
       |    pp[1] || ' ' || pp[2] AS pk2, pp[2] || ' ' || pp[3] AS k2,
       |    pp[2] AS w1, pp[3] AS w0
       |  FROM (SELECT doc_id, k3, string_split(k3, ' ') AS pp
       |        FROM pos)),
       |j AS (SELECT px.doc_id, t.c AS tc, bd.c AS bdc, bn.c AS bnc,
       |    ud.c AS udc, un2.c AS unc
       |  FROM px LEFT JOIN tc_ t ON px.k3 = t.k
       |  LEFT JOIN bc_ bd ON px.pk2 = bd.k
       |  LEFT JOIN bc_ bn ON px.k2 = bn.k
       |  LEFT JOIN uc ud ON px.w1 = ud.w
       |  LEFT JOIN uc un2 ON px.w0 = un2.w),
       |sc AS (SELECT doc_id,
       |    CASE WHEN tc IS NOT NULL THEN 0
       |      WHEN bnc IS NOT NULL THEN 1 ELSE 2 END AS lvl,
       |    CASE WHEN tc IS NOT NULL THEN tc
       |      WHEN bnc IS NOT NULL THEN bnc
       |      ELSE COALESCE(unc, 1) END AS num,
       |    CASE WHEN tc IS NOT NULL THEN bdc
       |      WHEN bnc IS NOT NULL THEN udc
       |      ELSE (SELECT n FROM nt) END AS den
       |  FROM j),
       |vals AS (SELECT DISTINCT v FROM (
       |  SELECT num AS v FROM sc UNION ALL SELECT den FROM sc
       |  UNION ALL SELECT 5)),
       |lvin AS (SELECT v AS doc_id, CAST(v AS BIGINT) AS p_fp
       |  FROM vals),
       |lv AS (${flog2D("lvin")}),
       |pen AS (SELECT lg - 65536 AS pen FROM lv WHERE doc_id = 5),
       |bits AS (SELECT sc.doc_id, sc.lvl,
       |    ld.lg - ln.lg + sc.lvl * (SELECT pen FROM pen) AS bits
       |  FROM sc JOIN lv ln ON sc.num = ln.doc_id
       |  JOIN lv ld ON sc.den = ld.doc_id),
       |ag AS (SELECT doc_id, COUNT(*) AS n_pos,
       |    CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tri_hits,
       |    CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS bi_hits,
       |    CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS uni_hits,
       |    CAST(SUM(bits) AS BIGINT) AS bits_fp
       |  FROM bits GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(ag.n_pos, 0) AS n_pos,
       |  COALESCE(ag.tri_hits, 0) AS tri_hits,
       |  COALESCE(ag.bi_hits, 0) AS bi_hits,
       |  COALESCE(ag.uni_hits, 0) AS uni_hits,
       |  COALESCE(ag.bits_fp, 0) AS bits_fp,
       |  CASE WHEN COALESCE(ag.n_pos, 0) > 0
       |    THEN ag.bits_fp // ag.n_pos ELSE 0 END AS bpt_fp
       |FROM documents d LEFT JOIN ag USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** q149 — UniMax language-budget sampling
    * ([[graft.ext.Sampling.uniMax]], Chung et al. ICLR 2023):
    * allocate a 2/3-of-corpus token budget across the five languages
    * by water-filling under a 1-epoch cap — ascending-size visit
    * order, each language takes `min(n_l, remaining div langsLeft)`,
    * so small languages keep their full corpus and the surplus
    * waterfalls to the large ones; then each language's deterministic
    * greedy md5-bucket prefix. The oracle replays the sequential
    * water-filling as a RECURSIVE CTE over the size-sorted language
    * list plus the two-level running totals, so allocations AND the
    * kept set hash-match. */
  def q149(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val toks = graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
    val total = docs.select(sum(toks).as("t")).head.getLong(0)
    graft.ext.Sampling
      .uniMax(docs, "doc_id", "lang", toks, total * 2 / 3)
      .select(col("id").as("doc_id"), col("stratum").as("lang"),
        col("n_tokens"), col("alloc"), col("cum_before"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val q149Sql: String =
    s"""WITH RECURSIVE docs AS (SELECT doc_id AS id, lang AS stratum,
       |    CAST(len($toksD) AS BIGINT) AS tok,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 1000000 AS bucket
       |  FROM documents),
       |tot AS (SELECT CAST(SUM(tok) * 2 // 3 AS BIGINT) AS B
       |  FROM docs),
       |st AS (SELECT stratum, CAST(SUM(tok) AS BIGINT) AS nl
       |  FROM docs GROUP BY stratum),
       |orda AS (SELECT stratum, nl,
       |    CAST(ROW_NUMBER() OVER (ORDER BY nl, stratum) AS BIGINT)
       |      AS rn FROM st),
       |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM st),
       |rec AS (
       |  SELECT CAST(0 AS BIGINT) AS rn, (SELECT B FROM tot) AS rem,
       |    CAST(0 AS BIGINT) AS alloc, CAST('' AS VARCHAR) AS stratum
       |  UNION ALL
       |  SELECT o.rn,
       |    r.rem - LEAST((1 * o.nl) // 1,
       |      r.rem // ((SELECT m FROM cnt) - r.rn)),
       |    LEAST((1 * o.nl) // 1,
       |      r.rem // ((SELECT m FROM cnt) - r.rn)),
       |    o.stratum
       |  FROM rec r JOIN orda o ON o.rn = r.rn + 1),
       |alloc AS (SELECT stratum, alloc FROM rec WHERE rn > 0),
       |bagg AS (SELECT stratum, bucket, SUM(tok) AS btok
       |  FROM docs GROUP BY 1, 2),
       |bcum AS (SELECT stratum, bucket, CAST(COALESCE(
       |    SUM(btok) OVER (PARTITION BY stratum ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cumb FROM bagg),
       |sel AS (SELECT d.id, d.stratum, d.tok, a.alloc,
       |    d.bucket, b.cumb
       |  FROM docs d
       |  JOIN bcum b ON d.stratum = b.stratum AND d.bucket = b.bucket
       |  JOIN alloc a ON a.stratum = d.stratum
       |  WHERE b.cumb < a.alloc),
       |run AS (SELECT id, stratum, tok, alloc,
       |    CAST(cumb + COALESCE(SUM(tok) OVER (
       |      PARTITION BY stratum, bucket ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cum_before FROM sel)
       |SELECT id AS doc_id, stratum AS lang, tok AS n_tokens,
       |  alloc, cum_before
       |FROM run WHERE cum_before < alloc
       |ORDER BY lang, doc_id""".stripMargin

  /** q151 — INCREMENTAL Stupid Backoff LM
    * ([[graft.ext.TextAnalysis.lmCountsAppend]]/`lmCountsRead`): the
    * corpus arrives as three batches, each landing its OWN n-gram
    * counts exactly-once (batch 1 is also replayed with the same txn
    * marker — a doubled count would bias every probability, so
    * idempotence is part of what the gate grades); `GRAFT COMPACT
    * INDEX` folds the per-batch commits to one row per gram; scoring
    * against the summed counts must be bit-identical to training on
    * the whole corpus at once (counts are additive), so the oracle IS
    * q148's full-scan formulation. */
  def q151(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    val tbl = QueryDef.scratchDir("lmcounts")
    for (b <- 0 until 3)
      graft.ext.TextAnalysis.lmCountsAppend(
        docs.filter(col("doc_id") % 3 === b), tbl,
        txn = Some(("q151", b.toLong)))
    // replay of batch 1: must be a no-op (exactly-once counts)
    graft.ext.TextAnalysis.lmCountsAppend(
      docs.filter(col("doc_id") % 3 === 1), tbl,
      txn = Some(("q151", 1L)))
    s.sql(s"GRAFT COMPACT INDEX '$tbl'").collect()
    val (u, b, t) = graft.ext.TextAnalysis.lmCountsRead(s, tbl)
    graft.ext.TextAnalysis.stupidBackoffScore(docs, "doc_id", u, b, t)
      .select(col("id").as("doc_id"), col("n_pos"), col("tri_hits"),
        col("bi_hits"), col("uni_hits"), col("bits_fp"), col("bpt_fp"))
      .orderBy(col("doc_id"))
  }

  val q151Sql: String = q148Sql // batched+folded counts ≡ full scan

  /** q153 — rule-based PII scrubbing of training text
    * ([[graft.ext.TextAnalysis.piiScrub]], the C4/CCNet pre-release
    * hygiene pass): emails, phone numbers and IPv4 addresses counted
    * then replaced with typed tokens, sequentially so overlapping
    * matches attribute once. The synthetic corpus contains no PII, so
    * the query PLANTS a deterministic contact trailer on a doc_id
    * schedule (identically derived in both engines) — the graded
    * property is the count/replace pipeline itself, including the
    * cleaned TEXT hash-matching the oracle's replay. Patterns are
    * restricted to the Java ∩ RE2 dialect so both engines match
    * identically. */
  def q153(s: SparkSession, dir: String): DataFrame = {
    val withPii = spreadDocs(s, dir).withColumn("text2", expr(
      """concat(text,
        |  CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',
        |    CAST(doc_id AS STRING), '@mail.example.com') ELSE '' END,
        |  CASE WHEN doc_id % 3 = 1 THEN concat(' call 555-',
        |    lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-',
        |    lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,
        |  CASE WHEN doc_id % 2 = 0 THEN concat(' host 10.',
        |    CAST(doc_id % 256 AS STRING), '.0.',
        |    CAST(doc_id % 100 AS STRING)) ELSE '' END)""".stripMargin))
    graft.ext.TextAnalysis.piiScrub(withPii, "doc_id", "text2")
      .select(col("id").as("doc_id"), col("n_email"), col("n_phone"),
        col("n_ip"), col("clean"))
      .orderBy(col("doc_id"))
  }

  val q153Sql: String =
    s"""WITH wp AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
       |      CAST(doc_id AS VARCHAR) || '@mail.example.com'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 1 THEN ' call 555-' ||
       |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 2 = 0 THEN ' host 10.' ||
       |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
       |      CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t
       |  FROM documents),
       |s1 AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(t,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
       |      AS BIGINT) AS n_email,
       |    regexp_replace(t,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |      '<EMAIL>', 'g') AS t FROM wp),
       |s2 AS (SELECT doc_id, n_email,
       |    CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
       |      AS BIGINT) AS n_phone,
       |    regexp_replace(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}',
       |      '<PHONE>', 'g') AS t FROM s1),
       |s3 AS (SELECT doc_id, n_email, n_phone,
       |    CAST(len(regexp_extract_all(t,
       |      '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
       |    regexp_replace(t, '([0-9]{1,3}\\.){3}[0-9]{1,3}',
       |      '<IP>', 'g') AS t FROM s2)
       |SELECT doc_id, n_email, n_phone, n_ip, t AS clean
       |FROM s3 ORDER BY doc_id""".stripMargin

  /** q154 — TRAINED language ID
    * ([[graft.ext.TextAnalysis.langIdTrained]], the naive-Bayes
    * char-trigram classifier — Cavnar & Trenkle's TextCat shape, the
    * trainable counterpart of q30's marker heuristic): per-language
    * Laplace-smoothed trigram costs in exact fixed-point bits, winner
    * = minimum summed bits (ties to the smaller language name). The
    * oracle rebuilds the model in SQL and replays the `fixed_log2`
    * recurrence over the DISTINCT cost inputs, so predictions AND
    * scores hash-match. */
  def q154(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
    graft.ext.TextAnalysis.langIdTrainedNative(docs, "doc_id",
        graft.ext.TextAnalysis.charTrigramLangModel(docs))
      .select(col("id").as("doc_id"), col("n_tris"), col("pred_lang"),
        col("bits_fp"))
      .orderBy(col("doc_id"))
  }

  val q154Sql: String =
    s"""WITH posl AS (SELECT doc_id, lang, unnest(list_transform(
       |    range(1, greatest(len(text) - 1, 1)),
       |    i -> substr(text, i, 3))) AS tri FROM documents),
       |mdl AS (SELECT lang, tri, COUNT(*) AS c
       |  FROM posl GROUP BY lang, tri),
       |tl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t
       |  FROM mdl GROUP BY lang),
       |vv AS (SELECT CAST(COUNT(DISTINCT tri) AS BIGINT) AS v
       |  FROM mdl),
       |pl AS (SELECT p.doc_id, p.tri, t.lang, t.t
       |  FROM (SELECT doc_id, tri FROM posl) p CROSS JOIN tl t),
       |jc AS (SELECT pl.doc_id, pl.lang, pl.t,
       |    COALESCE(m.c, 0) AS c
       |  FROM pl LEFT JOIN mdl m
       |    ON m.tri = pl.tri AND m.lang = pl.lang),
       |vals AS (SELECT DISTINCT v FROM (
       |  SELECT c + 1 AS v FROM jc
       |  UNION ALL SELECT t + (SELECT v FROM vv) FROM tl)),
       |lvin AS (SELECT v AS doc_id, CAST(v AS BIGINT) AS p_fp
       |  FROM vals),
       |lv AS (${flog2D("lvin")}),
       |sc AS (SELECT jc.doc_id, jc.lang,
       |    CAST(COUNT(*) AS BIGINT) AS n_tris,
       |    CAST(SUM(ld.lg - ln.lg) AS BIGINT) AS bits
       |  FROM jc
       |  JOIN lv ld ON jc.t + (SELECT v FROM vv) = ld.doc_id
       |  JOIN lv ln ON jc.c + 1 = ln.doc_id
       |  GROUP BY jc.doc_id, jc.lang),
       |win AS (SELECT doc_id, n_tris, lang, bits,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY bits, lang) AS rk FROM sc)
       |SELECT d.doc_id, COALESCE(w.n_tris, 0) AS n_tris,
       |  COALESCE(w.lang, 'und') AS pred_lang,
       |  COALESCE(w.bits, 0) AS bits_fp
       |FROM documents d LEFT JOIN win w
       |  ON w.doc_id = d.doc_id AND w.rk = 1
       |ORDER BY d.doc_id""".stripMargin

  /** q152 — per-source dataset card (the datasheet aggregate a
    * curation run ships with its corpus): per source, document/token
    * volume, language spread, exact-duplicate mass (md5-fingerprint
    * groups within the source) and mean document length — all exact
    * integers, one pass + one bounded fingerprint aggregation. */
  def q152(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(s, dir)
      .withColumn("ntok",
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("fp", md5(col("text")))
    val dups = docs.groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(when(col("n") > 1, col("n"))
        .otherwise(0L)).as("n_dup_docs"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .join(dups, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_langs"), col("n_dup_docs"),
        expr("(1000000 * n_tokens) div n_docs").as("mean_len_fp"))
      .orderBy(col("source"))
  }

  val q152Sql: String =
    s"""WITH d AS (SELECT source, lang,
       |    CAST(len($toksD) AS BIGINT) AS ntok, md5(text) AS fp
       |  FROM documents),
       |dup AS (SELECT source,
       |    CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
       |      AS n_dup_docs
       |  FROM (SELECT source, fp, COUNT(*) AS n FROM d
       |        GROUP BY source, fp) GROUP BY source),
       |agg AS (SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM d GROUP BY source)
       |SELECT a.source, a.n_docs, a.n_tokens, a.n_langs,
       |  dup.n_dup_docs,
       |  (1000000 * a.n_tokens) // a.n_docs AS mean_len_fp
       |FROM agg a JOIN dup USING (source)
       |ORDER BY a.source""".stripMargin

  /** q155 — per-source winnowed MOSS overlap
    * ([[graft.ext.Dedup.winnowSids]] with `blockCol = source` feeding
    * the df-capped pair core): candidate generation AND the hot-
    * shingle cap run per source — q59's per-source candidate
    * splitting applied to the winnowed (≈2/(w+1) volume) fingerprint
    * stream, so cross-source pairs never form and a shingle hot in
    * one source doesn't suppress another's. The oracle is q145's
    * replay with (source, shingle) blocking everywhere the global
    * formulation used the shingle alone. */
  def q155(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.ngramJaccardPairsFromSids(
        graft.ext.Dedup.winnowSids(spreadDocs(s, dir), "doc_id",
          blockCol = Some("source")),
        threshold = 0.3, maxShingleDocFreq = Some(25L))
      .orderBy(col("a_id"), col("b_id"))

  val q155Sql: String =
    s"""$winnowBodyD,
       |d AS (SELECT sel.doc_id, doc.source AS src,
       |    list_distinct(list_transform(ps, p -> hs[p])) AS sids
       |  FROM sel JOIN documents doc ON doc.doc_id = sel.doc_id),
       |dm AS (SELECT doc_id, src, sids, len(sids) AS m FROM d
       |  WHERE len(sids) > 0),
       |e AS (SELECT doc_id, src, sh
       |  FROM (SELECT doc_id, src, unnest(sids) AS sh FROM dm)),
       |hot AS (SELECT src, sh FROM e GROUP BY src, sh
       |  HAVING COUNT(*) > 25),
       |kept AS (SELECT e.* FROM e
       |  WHERE NOT EXISTS (SELECT 1 FROM hot
       |    WHERE hot.sh = e.sh AND hot.src = e.src)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM kept a JOIN kept b
       |    ON a.sh = b.sh AND a.src = b.src
       |    AND a.doc_id < b.doc_id),
       |v AS (SELECT c.a_id, c.b_id, da.m AS ma, db.m AS mb,
       |    len(list_intersect(da.sids, db.sids)) AS inter
       |  FROM cand c
       |  JOIN dm da ON da.doc_id = c.a_id
       |  JOIN dm db ON db.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       |  CAST(ma + mb - inter AS BIGINT) AS union_size,
       |  CAST(inter AS DOUBLE) / (ma + mb - inter) AS jaccard
       |FROM v
       |WHERE CAST(inter AS DOUBLE) / (ma + mb - inter) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** q160 — clipped n-gram precision over near-dup candidates
    * ([[graft.ext.TextAnalysis.clippedNgramOverlap]], the BLEU p_n
    * numerators): for every MinHash-banded candidate pair (q34's
    * generation, replayed in the oracle), the MULTISET intersection
    * of candidate and reference n-gram counts for n = 1, 2 — the
    * repetition-aware overlap the set-semantics family (Jaccard,
    * containment) cannot express — plus exact fixed-point precision,
    * recall, and F1 (2·clip/(tc+tr), exactly in integers). Pairs stay
    * the bounded dedup residue; gram counting is scan-local; only
    * pair-restricted gram rows shuffle. */
  def q160(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.clippedNgramOverlap(
        spreadDocs(s, dir),
        q34(s, dir).select(col("a_id"), col("b_id")), "doc_id")
      .orderBy(col("a_id"), col("b_id"))

  val q160Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |d AS (SELECT doc_id, $shinglesD AS shs FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, x -> ${tokD("x")}) AS sids FROM d),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |g1 AS (SELECT doc_id, g, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2),
       |t2 AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN
       |    list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS gs
       |  FROM t),
       |g2 AS (SELECT doc_id, g, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(gs) AS g FROM t2) GROUP BY 1, 2),
       |lens AS (SELECT p.a_id, p.b_id,
       |    CAST(len(ta.toks) AS BIGINT) AS tc1,
       |    CAST(GREATEST(len(ta.toks) - 1, 0) AS BIGINT) AS tc2,
       |    CAST(len(tb.toks) AS BIGINT) AS tr1,
       |    CAST(GREATEST(len(tb.toks) - 1, 0) AS BIGINT) AS tr2
       |  FROM pairs p
       |  JOIN t ta ON ta.doc_id = p.a_id
       |  JOIN t tb ON tb.doc_id = p.b_id),
       |c1 AS (SELECT p.a_id, p.b_id,
       |    CAST(SUM(LEAST(x.c, y.c)) AS BIGINT) AS clip1
       |  FROM pairs p
       |  JOIN g1 x ON x.doc_id = p.a_id
       |  JOIN g1 y ON y.doc_id = p.b_id AND y.g = x.g
       |  GROUP BY 1, 2),
       |c2 AS (SELECT p.a_id, p.b_id,
       |    CAST(SUM(LEAST(x.c, y.c)) AS BIGINT) AS clip2
       |  FROM pairs p
       |  JOIN g2 x ON x.doc_id = p.a_id
       |  JOIN g2 y ON y.doc_id = p.b_id AND y.g = x.g
       |  GROUP BY 1, 2)
       |SELECT l.a_id, l.b_id,
       |  l.tc1, l.tr1, COALESCE(c1.clip1, 0) AS clip1,
       |  l.tc2, l.tr2, COALESCE(c2.clip2, 0) AS clip2,
       |  (COALESCE(c1.clip1, 0) * 1000000) // GREATEST(l.tc1, 1)
       |    AS p1_fp,
       |  (COALESCE(c1.clip1, 0) * 1000000) // GREATEST(l.tr1, 1)
       |    AS r1_fp,
       |  (2 * COALESCE(c1.clip1, 0) * 1000000)
       |    // GREATEST(l.tc1 + l.tr1, 1) AS f1_fp,
       |  (COALESCE(c2.clip2, 0) * 1000000) // GREATEST(l.tc2, 1)
       |    AS p2_fp,
       |  (COALESCE(c2.clip2, 0) * 1000000) // GREATEST(l.tr2, 1)
       |    AS r2_fp,
       |  (2 * COALESCE(c2.clip2, 0) * 1000000)
       |    // GREATEST(l.tc2 + l.tr2, 1) AS f2_fp
       |FROM lens l
       |LEFT JOIN c1 ON c1.a_id = l.a_id AND c1.b_id = l.b_id
       |LEFT JOIN c2 ON c2.a_id = l.a_id AND c2.b_id = l.b_id
       |ORDER BY l.a_id, l.b_id""".stripMargin

  /** q164 — chrF over near-dup candidates
    * ([[graft.ext.TextAnalysis.chrF]], Popović WMT 2015): for every
    * MinHash-banded candidate pair (q34's generation, replayed in the
    * oracle), clipped CHARACTER-n-gram precision/recall for n = 1..6
    * over the whitespace-stripped texts, arithmetic-averaged across
    * orders and fused at β = 2 — the tokenization-robust sibling of
    * q160's word-level components, completing the eval-metrics
    * family. Exact fixed point end to end (truncating integer
    * divisions), so chrP, chrR AND chrF hash-match the oracle. */
  def q164(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.chrF(
        spreadDocs(s, dir),
        q34(s, dir).select(col("a_id"), col("b_id")), "doc_id")
      .orderBy(col("a_id"), col("b_id"))

  /** Shared oracle body for the chrF family (q164 per-pair, q166
    * corpus): banded candidate pairs → pair-restricted char-gram
    * counting for n=1..6 → clipped precision/recall in exact fixed
    * point, through the `fo` CTE. */
  private val chrfBodyD: String =
    s"""WITH d AS (SELECT doc_id, $shinglesD AS shs FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, x -> ${tokD("x")}) AS sids FROM d),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |tdoc AS (SELECT a_id AS doc_id FROM pairs
       |  UNION SELECT b_id FROM pairs),
       |ch AS (SELECT doc_id,
       |    regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g') AS s
       |  FROM documents JOIN tdoc USING (doc_id)),
       |nn AS (SELECT unnest(range(1, 7)) AS n),
       |gx AS (SELECT doc_id, n,
       |    unnest(list_transform(
       |      range(1, greatest(length(s) - n + 2, 1)),
       |      i -> substr(s, i, n))) AS g
       |  FROM ch CROSS JOIN nn),
       |gcnt AS (SELECT doc_id, n, g, COUNT(*) AS c
       |  FROM gx GROUP BY 1, 2, 3),
       |lens AS (SELECT doc_id, n,
       |    CAST(GREATEST(length(s) - n + 1, 0) AS BIGINT) AS tot
       |  FROM ch CROSS JOIN nn),
       |cl AS (SELECT p.a_id, p.b_id, x.n,
       |    CAST(SUM(LEAST(x.c, y.c)) AS BIGINT) AS clip
       |  FROM pairs p
       |  JOIN gcnt x ON x.doc_id = p.a_id
       |  JOIN gcnt y ON y.doc_id = p.b_id AND y.n = x.n AND y.g = x.g
       |  GROUP BY 1, 2, 3),
       |po AS (SELECT p.a_id, p.b_id, la.n,
       |    COALESCE(c.clip, 0) AS clip, la.tot AS tc, lb.tot AS tr
       |  FROM pairs p
       |  JOIN lens la ON la.doc_id = p.a_id
       |  JOIN lens lb ON lb.doc_id = p.b_id AND lb.n = la.n
       |  LEFT JOIN cl c
       |    ON c.a_id = p.a_id AND c.b_id = p.b_id AND c.n = la.n),
       |fo AS (SELECT a_id, b_id,
       |    CAST(SUM(clip) AS BIGINT) AS clip_total,
       |    CAST(SUM((clip * 1000000) // GREATEST(tc, 1)) // 6
       |      AS BIGINT) AS cp_fp,
       |    CAST(SUM((clip * 1000000) // GREATEST(tr, 1)) // 6
       |      AS BIGINT) AS cr_fp
       |  FROM po GROUP BY 1, 2)""".stripMargin

  val q164Sql: String =
    s"""$chrfBodyD
       |SELECT a_id, b_id, clip_total, cp_fp, cr_fp,
       |  CAST((5 * cp_fp * cr_fp) // GREATEST(4 * cp_fp + cr_fp, 1)
       |    AS BIGINT) AS chrf_fp
       |FROM fo ORDER BY a_id, b_id""".stripMargin

  /** q166 — corpus-level chrF ([[graft.ext.TextAnalysis.chrFCorpus]]):
    * the macro-average (mean of per-pair fixed-point scores) of q164's
    * rows in one dataset-eval row — `Σ score // n` exactly, so the
    * corpus score hash-matches like the per-pair cells. */
  def q166(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.chrFCorpus(
      spreadDocs(s, dir),
      q34(s, dir).select(col("a_id"), col("b_id")), "doc_id")

  val q166Sql: String =
    s"""$chrfBodyD,
       |sc AS (SELECT cp_fp, cr_fp,
       |    CAST((5 * cp_fp * cr_fp) // GREATEST(4 * cp_fp + cr_fp, 1)
       |      AS BIGINT) AS chrf_fp
       |  FROM fo)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(cp_fp) // COUNT(*) AS BIGINT) AS macro_chrp_fp,
       |  CAST(SUM(cr_fp) // COUNT(*) AS BIGINT) AS macro_chrr_fp,
       |  CAST(SUM(chrf_fp) // COUNT(*) AS BIGINT) AS macro_chrf_fp
       |FROM sc""".stripMargin

  /** q167 — index RETRACTION under corpus deletes, exact index
    * ([[graft.ext.Dedup.retractIndex]] / `GRAFT RETRACT INDEX`): the
    * right-to-be-forgotten composition. Batch 1 (doc_id < cut) builds
    * the exact-dedup fingerprint index; its docs with
    * doc_id % 10 == 3 are then deleted from the corpus and RETRACTED
    * from the index (keyed rewrite — only files holding their
    * keep_id rows rewrite, everything else carries by reference).
    * Batch 2 then ingests: copies of RETRACTED content are KEPT
    * (their keeper is gone, the content is novel again) while copies
    * of surviving content still dedup against history. The oracle is
    * q81's replay with the retracted keepers' index rows removed. */
  def q167(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q167_idx")
    graft.ext.Dedup.exactIncremental(
      docs.filter(col("doc_id") < cut), "text", "doc_id", idx)
    graft.ext.Dedup.retractIndex(s, idx,
      docs.filter(col("doc_id") < cut && col("doc_id") % 10 === 3)
        .select(col("doc_id")))
    graft.ext.Dedup.exactIncremental(
      docs.filter(col("doc_id") >= cut), "text", "doc_id", idx)
      .select(col("doc_id"), col("keep_id"), col("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  val q167Sql: String =
    """WITH d AS (SELECT doc_id, md5(COALESCE(lower(trim(text)), '')) AS fp
      |  FROM documents),
      |cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS c
      |  FROM documents),
      |b1 AS (SELECT fp, MIN(doc_id) AS k FROM d, cut
      |  WHERE doc_id < c GROUP BY fp),
      |idx AS (SELECT fp, k FROM b1 WHERE k % 10 <> 3),
      |b2 AS (SELECT fp, MIN(doc_id) AS k FROM d, cut
      |  WHERE doc_id >= c GROUP BY fp)
      |SELECT d.doc_id, COALESCE(idx.k, b2.k) AS keep_id,
      |  d.doc_id <> COALESCE(idx.k, b2.k) AS is_duplicate
      |FROM d LEFT JOIN idx USING (fp) LEFT JOIN b2 USING (fp), cut
      |WHERE d.doc_id >= c ORDER BY d.doc_id""".stripMargin

  /** q168 — retraction on the near-dup SIGNATURE index: batch 1's
    * band rows for doc_id % 7 == 0 are retracted before batch 2
    * probes, so retracted docs pair with NOTHING (future copies of
    * their content are novel again) while surviving history still
    * matches. Uncapped banding (the retraction contract is the thing
    * under test); oracle = q82's banded replay minus pairs whose
    * batch-1 side was retracted. */
  def q168(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q168_idx")
    graft.ext.Dedup.nearIncremental(
      docs.filter(col("doc_id") < cut), "text", "doc_id", idx,
      maxBandDocFreq = Some(Int.MaxValue))
    graft.ext.Dedup.retractIndex(s, idx,
      docs.filter(col("doc_id") < cut && col("doc_id") % 7 === 0)
        .select(col("doc_id")))
    graft.ext.Dedup.nearIncremental(
      docs.filter(col("doc_id") >= cut), "text", "doc_id", idx,
      maxBandDocFreq = Some(Int.MaxValue))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q168Sql: String =
    s"""WITH d AS (SELECT doc_id, $shinglesD AS shs FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, t -> ${tokD("t")}) AS sids
       |  FROM d WHERE len(shs) > 0),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS c
       |  FROM documents),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    COUNT(*) AS n_shared_bands
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id, cut
       |  WHERE b.doc_id >= c
       |    AND NOT (a.doc_id < c AND a.doc_id % 7 = 0)
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, n_shared_bands,
       |  CAST(len(list_filter(list_transform(range(0, 16),
       |    k -> sa.sig[k+1] = sb.sig[k+1]), v -> v)) AS DOUBLE) / 16
       |    AS est_jaccard
       |FROM p JOIN sigs sa ON sa.doc_id = p.a_id
       |  JOIN sigs sb ON sb.doc_id = p.b_id
       |ORDER BY a_id, b_id""".stripMargin

  /** q170 — ROUGE-L over near-dup candidates
    * ([[graft.ext.TextAnalysis.rougeL]]): token-level longest common
    * subsequence for every MinHash-banded candidate pair — the
    * order-aware eval metric the clipped-n-gram (q160) and chrF
    * (q164) family cannot express. The DP folds array-locally over
    * portable md5-prefix token ids (both engines run the identical
    * recurrence: max(dp[j], dp[j-1]+eq) then prefix-max), and
    * precision/recall/F are exact fixed point, so every cell
    * hash-matches. */
  def q170(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.rougeL(
        spreadDocs(s, dir),
        q34(s, dir).select(col("a_id"), col("b_id")), "doc_id")
      .orderBy(col("a_id"), col("b_id"))

  /** Shared oracle body for the ROUGE-L family (q170 per-pair, q174
    * corpus): banded pairs → token-id lists for pair-touched docs →
    * the LCS DP via list_reduce, through the `lc` CTE. */
  private val rougeBodyD: String =
    s"""WITH d AS (SELECT doc_id, $shinglesD AS shs FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, x -> ${tokD("x")}) AS sids FROM d),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |tdoc AS (SELECT a_id AS doc_id FROM pairs
       |  UNION SELECT b_id FROM pairs),
       |tk AS (SELECT doc_id, list_transform($toksD,
       |    x -> ${tokD("x")}) AS tk
       |  FROM documents JOIN tdoc USING (doc_id)),
       |lc AS (SELECT p.a_id, p.b_id,
       |    CAST(len(ta.tk) AS BIGINT) AS len_a,
       |    CAST(len(tb.tk) AS BIGINT) AS len_b,
       |    CASE WHEN len(ta.tk) = 0 OR len(tb.tk) = 0
       |    THEN CAST(0 AS BIGINT)
       |    ELSE list_max(list_reduce(
       |      list_prepend(list_transform(tb.tk, y -> CAST(0 AS BIGINT)),
       |                   list_transform(ta.tk, x -> [x])),
       |      (dp, xs) -> list_transform(range(1, len(tb.tk) + 1), j ->
       |        list_max(list_transform(range(1, j + 1), i ->
       |          GREATEST(dp[i],
       |            (CASE WHEN i > 1 THEN dp[i-1]
       |             ELSE CAST(0 AS BIGINT) END) +
       |            (CASE WHEN tb.tk[i] = xs[1] THEN 1 ELSE 0 END)))))
       |    )) END AS lcs
       |  FROM pairs p
       |  JOIN tk ta ON ta.doc_id = p.a_id
       |  JOIN tk tb ON tb.doc_id = p.b_id)""".stripMargin

  val q170Sql: String =
    s"""$rougeBodyD
       |SELECT a_id, b_id, len_a, len_b, lcs,
       |  (lcs * 1000000) // GREATEST(len_a, 1) AS rl_p_fp,
       |  (lcs * 1000000) // GREATEST(len_b, 1) AS rl_r_fp,
       |  (2 * ((lcs * 1000000) // GREATEST(len_a, 1))
       |     * ((lcs * 1000000) // GREATEST(len_b, 1)))
       |    // GREATEST(((lcs * 1000000) // GREATEST(len_a, 1))
       |     + ((lcs * 1000000) // GREATEST(len_b, 1)), 1) AS rl_f_fp
       |FROM lc ORDER BY a_id, b_id""".stripMargin

  /** q174 — corpus-level ROUGE-L
    * ([[graft.ext.TextAnalysis.rougeLCorpus]]): q166's macro-average
    * shape for the subsequence metric — one dataset-eval row,
    * `Σ score // n` exact. */
  def q174(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.rougeLCorpus(
      spreadDocs(s, dir),
      q34(s, dir).select(col("a_id"), col("b_id")), "doc_id")

  val q174Sql: String =
    s"""$rougeBodyD,
       |sc AS (SELECT
       |    (lcs * 1000000) // GREATEST(len_a, 1) AS p_fp,
       |    (lcs * 1000000) // GREATEST(len_b, 1) AS r_fp,
       |    (2 * ((lcs * 1000000) // GREATEST(len_a, 1))
       |       * ((lcs * 1000000) // GREATEST(len_b, 1)))
       |      // GREATEST(((lcs * 1000000) // GREATEST(len_a, 1))
       |       + ((lcs * 1000000) // GREATEST(len_b, 1)), 1) AS f_fp
       |  FROM lc)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(p_fp) // COUNT(*) AS BIGINT) AS macro_rl_p_fp,
       |  CAST(SUM(r_fp) // COUNT(*) AS BIGINT) AS macro_rl_r_fp,
       |  CAST(SUM(f_fp) // COUNT(*) AS BIGINT) AS macro_rl_f_fp
       |FROM sc""".stripMargin

  /** q175 — lexical-index RETRACTION
    * ([[graft.ext.TextAnalysis.retractLexicalIndex]] via
    * `GRAFT RETRACT INDEX … FROM '<tombstone>'`): the
    * right-to-be-forgotten gate for the RETRIEVAL surface. The
    * incremental lexical index ingests the corpus in two batches;
    * docs with doc_id % 10 == 3 are then retracted through the SQL
    * tombstone-table form (posting rows keyed-delete on id, corpus
    * totals adjust by one additive delta row), and the BM25 probe
    * afterwards must (a) never return a retracted id and (b)
    * hash-match a full-corpus scan over exactly the SURVIVING
    * documents — i.e. an index recreated from current state: df,
    * avgdl and every rank reflect the post-delete corpus, not just
    * the id filter. */
  def q175(s: SparkSession, dir: String): DataFrame = {
    val idx = QueryDef.scratchDir("lexret")
    val docs = Tables(s, dir, "documents")
    for (b <- 0 until 2)
      graft.ext.TextAnalysis.lexicalIndexAppend(
        docs.filter(col("doc_id") % 2 === b), idx, "doc_id",
        txn = Some(("q175", b.toLong)))
    val tomb = QueryDef.scratchDir("lexret_tomb")
    graft.sink.CdcTable.append(
      docs.filter(col("doc_id") % 10 === 3).select(col("doc_id")),
      tomb, partitionBy = Nil)
    s.sql(s"GRAFT RETRACT INDEX '$idx' FROM '$tomb' ID doc_id")
      .collect()
    graft.ext.TextAnalysis
      .probeLexicalTable(s, idx, "vector hash join merge", k = 10)
      .select(col("id").as("doc_id"), col("n_terms_hit"),
        col("score_fp"), col("score"))
  }

  // probe after retraction ≡ recreate from the surviving corpus
  val q175Sql: String = bm25FullScanSql("WHERE doc_id % 10 <> 3")

  /** q176 — keeper RE-ELECTION on exact-index retraction
    * ([[graft.ext.Dedup.retractIndex]] `reelectFrom`): retracting a
    * KEEPER whose duplicate copies survive in the corpus must not
    * reopen that content's dedup — the fingerprint re-elects the min
    * SURVIVING corpus id in the same maintenance pass. The corpus
    * indexes whole, docs with doc_id % 10 == 3 are deleted and
    * retracted with re-election against the survivors, then every
    * deleted doc's CONTENT re-ingests under a fresh id: copies of
    * content that survives elsewhere are DROPPED against the
    * re-elected keeper; content that left the corpus entirely is
    * KEPT. The post-retraction index is exactly the
    * recreate-from-current-state index, which is what the oracle
    * replays. */
  def q176(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val idx = QueryDef.scratchDir("graft_q176_idx")
    graft.ext.Dedup.exactIncremental(docs, "text", "doc_id", idx)
    graft.ext.Dedup.retractIndex(s, idx,
      docs.filter(col("doc_id") % 10 === 3).select(col("doc_id")),
      reelectFrom =
        Some((docs.filter(col("doc_id") % 10 =!= 3), "doc_id", "text")))
    graft.ext.Dedup.exactIncremental(
      docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          col("text")),
      "text", "doc_id", idx)
      .select(col("doc_id"), col("keep_id"), col("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  val q176Sql: String =
    """WITH d AS (SELECT doc_id, md5(COALESCE(lower(trim(text)), '')) AS fp
      |  FROM documents),
      |idx AS (SELECT fp, MIN(doc_id) AS k FROM d
      |  WHERE doc_id % 10 <> 3 GROUP BY fp),
      |b2 AS (SELECT doc_id + 1000000000 AS nid, fp FROM d
      |  WHERE doc_id % 10 = 3),
      |bw AS (SELECT fp, MIN(nid) AS bk FROM b2 GROUP BY fp)
      |SELECT b2.nid AS doc_id,
      |  COALESCE(idx.k, bw.bk) AS keep_id,
      |  b2.nid <> COALESCE(idx.k, bw.bk) AS is_duplicate
      |FROM b2 LEFT JOIN idx USING (fp) JOIN bw USING (fp)
      |ORDER BY doc_id""".stripMargin

  /** q177 — corpus BLEU over near-dup candidates
    * ([[graft.ext.TextAnalysis.corpusBleu]], Papineni et al. ACL
    * 2002): clipped n-gram matches and candidate totals for
    * n = 1..4 SUMMED over all q34 candidate pairs before any ratio
    * forms (the paper's corpus formulation), then modified
    * precisions p1..p4, the brevity penalty as −log2 BP, and
    * log2 BLEU via the `fixed_log2` truncated-squaring recurrence —
    * exact integers end to end, so the oracle replays the 16-round
    * log recurrence AND the geometric mean bit for bit. */
  def q177(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.corpusBleu(
      spreadDocs(s, dir),
      q34(s, dir).select(col("a_id"), col("b_id")), "doc_id")

  val q177Sql: String = {
    val lgPivot = (1 to 4).flatMap { n =>
      Seq(s"MAX(CASE WHEN doc_id = $n AND kind = 'c' THEN lg END) " +
          s"AS lc$n",
        s"MAX(CASE WHEN doc_id = $n AND kind = 't' THEN lg END) " +
          s"AS lt$n")
    }.mkString(",\n|    ")
    val clipPivot = (1 to 4).flatMap { n =>
      Seq(s"MAX(CASE WHEN n = $n THEN clipn END) AS clip$n",
        s"MAX(CASE WHEN n = $n THEN totn END) AS tot$n")
    }.mkString(",\n|    ")
    val perN = (1 to 4).map { n =>
      s"clip$n, tot$n,\n|  (clip$n * 1000000) // GREATEST(tot$n, 1) " +
        s"AS p${n}_fp"
    }.mkString(",\n|  ")
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |d AS (SELECT doc_id, $shinglesD AS shs FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, x -> ${tokD("x")}) AS sids FROM d),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |tp AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |tch AS (SELECT a_id AS doc_id FROM tp
       |  UNION SELECT b_id FROM tp),
       |tt AS (SELECT t.doc_id, t.toks FROM t JOIN tch USING (doc_id)),
       |lens AS (SELECT p.a_id, p.b_id,
       |    CAST(len(ta.toks) AS BIGINT) AS len_a,
       |    CAST(len(tb.toks) AS BIGINT) AS len_b
       |  FROM tp p JOIN tt ta ON ta.doc_id = p.a_id
       |  JOIN tt tb ON tb.doc_id = p.b_id),
       |corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(len_a) AS BIGINT) AS c_len,
       |    CAST(SUM(len_b) AS BIGINT) AS r_len FROM lens),
       |g AS (SELECT doc_id, n, g, COUNT(*) AS c FROM (
       |    SELECT doc_id, nn.n AS n, unnest(
       |      CASE WHEN len(toks) >= nn.n THEN
       |        list_transform(range(1, len(toks) - nn.n + 2),
       |          i -> array_to_string(toks[i:i+nn.n-1], ' '))
       |      ELSE [] END) AS g
       |    FROM tt, (SELECT unnest(range(1, 5)) AS n) nn)
       |  GROUP BY 1, 2, 3),
       |clip AS (SELECT p.a_id, p.b_id, x.n,
       |    CAST(SUM(LEAST(x.c, y.c)) AS BIGINT) AS clip
       |  FROM tp p JOIN g x ON x.doc_id = p.a_id
       |  JOIN g y ON y.doc_id = p.b_id AND y.n = x.n AND y.g = x.g
       |  GROUP BY 1, 2, 3),
       |ln2 AS (SELECT l.a_id, l.b_id, l.len_a, nn.n
       |  FROM lens l, (SELECT unnest(range(1, 5)) AS n) nn),
       |byn AS (SELECT ln2.n,
       |    CAST(COALESCE(SUM(c.clip), 0) AS BIGINT) AS clipn,
       |    CAST(SUM(GREATEST(ln2.len_a - ln2.n + 1, 0)) AS BIGINT)
       |      AS totn
       |  FROM ln2 LEFT JOIN clip c ON c.a_id = ln2.a_id
       |    AND c.b_id = ln2.b_id AND c.n = ln2.n
       |  GROUP BY ln2.n),
       |lv AS (SELECT n AS doc_id, 'c' AS kind, clipn AS p_fp
       |    FROM byn WHERE clipn > 0
       |  UNION ALL
       |  SELECT n AS doc_id, 't' AS kind, GREATEST(totn, 1) AS p_fp
       |    FROM byn),
       |lgt AS (${flog2D("lv", Seq("kind"))}),
       |lgp AS (SELECT
       |    $lgPivot
       |  FROM lgt),
       |agg AS (SELECT
       |    $clipPivot
       |  FROM byn),
       |fin AS (SELECT corpus.*, agg.*,
       |    CASE WHEN c_len >= r_len THEN 0
       |         ELSE ((r_len - c_len) * 94548)
       |           // GREATEST(c_len, 1) END AS bp_neglog2_fp,
       |    ((lt1 - lc1) + (lt2 - lc2) + (lt3 - lc3) + (lt4 - lc4))
       |      AS negsum
       |  FROM corpus, agg, lgp)
       |SELECT n_pairs, c_len, r_len,
       |  $perN,
       |  CAST(bp_neglog2_fp AS BIGINT) AS bp_neglog2_fp,
       |  CAST(-(bp_neglog2_fp + (negsum // 4)) AS BIGINT)
       |    AS bleu_log2_fp
       |FROM fin""".stripMargin
  }

  /** q171 — exact duplicated-substring coverage
    * ([[graft.ext.Dedup.dupSubstringStats]], the Lee et al. 2022
    * exact-substring dedup criterion): per document, how many token
    * positions lie inside a ≥ 8-token run appearing verbatim in
    * ANOTHER document — sliding hashed windows, cross-doc df ≥ 2,
    * interval-union coverage via one LEAD window. Strictly linear
    * (no candidate pairs anywhere); one double division at the end,
    * bit-identical across engines. */
  def q171(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.dupSubstringStats(
        spreadDocs(s, dir), "text", "doc_id", l = 8)
      .orderBy(col("id"))

  val q171Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |w AS (SELECT doc_id, s,
       |    CAST(('0x' || substr(md5(array_to_string(toks[s:s+7], ' ')),
       |      1, 14)) AS BIGINT) AS wid
       |  FROM (SELECT doc_id, toks,
       |      unnest(range(1, greatest(len(toks) - 6, 1))) AS s
       |    FROM t)),
       |dup AS (SELECT wid FROM (SELECT wid,
       |    COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY wid)
       |  WHERE nd >= 2),
       |m AS (SELECT DISTINCT doc_id, s FROM w JOIN dup USING (wid)),
       |cov AS (SELECT doc_id, COUNT(*) AS n_dup_starts,
       |    CAST(SUM(LEAST(8, COALESCE(ns - s, 8))) AS BIGINT)
       |      AS n_dup_positions
       |  FROM (SELECT doc_id, s,
       |      LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) AS ns
       |    FROM m) GROUP BY doc_id)
       |SELECT t.doc_id AS id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  COALESCE(n_dup_starts, 0) AS n_dup_starts,
       |  COALESCE(n_dup_positions, 0) AS n_dup_positions,
       |  CASE WHEN len(toks) > 0 THEN
       |    CAST(COALESCE(n_dup_positions, 0) AS DOUBLE) / len(toks)
       |  END AS dup_ratio
       |FROM t LEFT JOIN cov USING (doc_id) ORDER BY id""".stripMargin

  /** q172 — exact duplicated-substring REMOVAL
    * ([[graft.ext.Dedup.dupSubstringRewrite]], q171's destructive
    * half — the action Lee et al.'s pipeline takes): positions
    * covered by a ≥ 8-token cross-document verbatim run are cut and
    * each document reassembles from its surviving positions. The
    * matched starts come back as one sorted array per doc and the
    * cut is an in-row exists probe, so the cleaned TEXT itself
    * hash-matches the oracle. */
  def q172(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.dupSubstringRewrite(
        spreadDocs(s, dir), "text", "doc_id", l = 8)
      .orderBy(col("id"))

  val q172Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |w AS (SELECT doc_id, s,
       |    CAST(('0x' || substr(md5(array_to_string(toks[s:s+7], ' ')),
       |      1, 14)) AS BIGINT) AS wid
       |  FROM (SELECT doc_id, toks,
       |      unnest(range(1, greatest(len(toks) - 6, 1))) AS s
       |    FROM t)),
       |dup AS (SELECT wid FROM (SELECT wid,
       |    COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY wid)
       |  WHERE nd >= 2),
       |st AS (SELECT doc_id, list(s ORDER BY s) AS starts
       |  FROM (SELECT DISTINCT doc_id, s FROM w JOIN dup USING (wid))
       |  GROUP BY doc_id),
       |cut AS (SELECT t.doc_id, toks,
       |    list_filter(range(1, len(toks) + 1), p ->
       |      len(list_filter(COALESCE(starts, []),
       |        s -> s <= p AND p < s + 8)) = 0) AS keep
       |  FROM t LEFT JOIN st USING (doc_id))
       |SELECT doc_id AS id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
       |  COALESCE(array_to_string(list_transform(keep, p -> toks[p]),
       |    ' '), '') AS kept_text
       |FROM cut ORDER BY id""".stripMargin

  /** q173 — INCREMENTAL duplicated-substring stats
    * ([[graft.ext.Dedup.dupSubstringIncremental]]): batch 2
    * (doc_id ≥ cut) probes the (doc, window-id) index built from
    * batch 1 — historical text gone, only 56-bit window ids remain —
    * and reports its docs' coverage against everything seen. With the
    * full corpus arrived, a batch-2 doc's arrival-time view IS the
    * batch-global one, so the oracle is q171's replay restricted to
    * batch-2 docs. */
  def q173(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q173_idx")
    graft.ext.Dedup.dupSubstringIncremental(
      docs.filter(col("doc_id") < cut), "text", "doc_id", idx, l = 8,
      txn = Some(("q173", 1L)))
    graft.ext.Dedup.dupSubstringIncremental(
      docs.filter(col("doc_id") >= cut), "text", "doc_id", idx, l = 8,
      txn = Some(("q173", 2L)))
      .orderBy(col("id"))
  }

  val q173Sql: String =
    s"""WITH t AS (SELECT doc_id, $toksD AS toks FROM documents),
       |cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS c
       |  FROM documents),
       |w AS (SELECT doc_id, s,
       |    CAST(('0x' || substr(md5(array_to_string(toks[s:s+7], ' ')),
       |      1, 14)) AS BIGINT) AS wid
       |  FROM (SELECT doc_id, toks,
       |      unnest(range(1, greatest(len(toks) - 6, 1))) AS s
       |    FROM t)),
       |dup AS (SELECT wid FROM (SELECT wid,
       |    COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY wid)
       |  WHERE nd >= 2),
       |m AS (SELECT DISTINCT doc_id, s FROM w JOIN dup USING (wid)),
       |cov AS (SELECT doc_id, COUNT(*) AS n_dup_starts,
       |    CAST(SUM(LEAST(8, COALESCE(ns - s, 8))) AS BIGINT)
       |      AS n_dup_positions
       |  FROM (SELECT doc_id, s,
       |      LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) AS ns
       |    FROM m) GROUP BY doc_id)
       |SELECT t.doc_id AS id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  COALESCE(n_dup_starts, 0) AS n_dup_starts,
       |  COALESCE(n_dup_positions, 0) AS n_dup_positions,
       |  CASE WHEN len(toks) > 0 THEN
       |    CAST(COALESCE(n_dup_positions, 0) AS DOUBLE) / len(toks)
       |  END AS dup_ratio
       |FROM t LEFT JOIN cov USING (doc_id), cut
       |WHERE t.doc_id >= c ORDER BY id""".stripMargin

  /** q165 — INCREMENTALLY-GROWN materialized curation result
    * ([[graft.ext.Dedup.appendNearDupResult]]): the q162 consumers
    * (canonical selection, cluster split, positive pairs) served from
    * a near-dup result maintained BATCH-AT-A-TIME — three id-sliced
    * batches feed the signature index, each batch's at-threshold
    * pairs land exactly-once (one batch deliberately REPLAYED to
    * prove the txn markers hold), and components refresh as an atomic
    * replace per batch. Pair semantics are the incremental family's
    * signature-estimate Jaccard (q82's gated contract; hot-cap pinned
    * off so union-over-arrival ≡ batch-global is exact), and the
    * oracle replays banded pairs → estimate threshold → RECURSIVE
    * closure → all three consumers from scratch — proving the grown
    * result equals the from-scratch computation no matter how arrival
    * was sliced. */
  def q165(s: SparkSession, dir: String): DataFrame = {
    val out = QueryDef.scratchDir("neardup_incr")
    val docs = spreadDocs(s, dir)
    for (b <- 0 until 3)
      graft.ext.Dedup.appendNearDupResult(
        docs.filter(col("doc_id") % 3 === b), "text", "doc_id", out,
        estThreshold = 0.5, txn = Some(("q165", b.toLong)),
        maxBandDocFreq = Some(Int.MaxValue))
    // replay of batch 1 AFTER batch 2's arrival: the pair append must
    // no-op on the txn marker even though the recompute now sees more
    // index rows
    graft.ext.Dedup.appendNearDupResult(
      docs.filter(col("doc_id") % 3 === 1), "text", "doc_id", out,
      estThreshold = 0.5, txn = Some(("q165", 1L)),
      maxBandDocFreq = Some(Int.MaxValue))
    val res = graft.ext.Dedup.readNearDupResult(s, out, docs, "doc_id")
    val canonical = graft.ext.Dedup
      .canonicalByQuality(res, docs, "doc_id", "n_chars")
      .select(lit("canonical").as("op"), col("cluster_id").as("k1"),
        col("kept_id").as("k2"), col("n_members").as("v1"),
        col("total_quality").as("v2"),
        lit(null).cast("string").as("tag"))
    val split = graft.ext.Sampling
      .clusterSplit(docs.select(col("doc_id")), "doc_id",
        res.components)
      .select(lit("split").as("op"), col("doc_id").as("k1"),
        col("group_id").as("k2"), lit(null).cast("long").as("v1"),
        lit(null).cast("long").as("v2"), col("split").as("tag"))
    val pos = graft.ext.Dedup.positivePairs(res)
      .select(lit("pairs").as("op"), col("cluster_id").as("k1"),
        col("a_id").as("k2"), col("b_id").as("v1"),
        lit(null).cast("long").as("v2"),
        lit(null).cast("string").as("tag"))
    canonical.unionByName(split).unionByName(pos)
      .orderBy(col("op"), col("k1"), col("k2"), col("v1"))
  }

  val q165Sql: String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, $shinglesD AS shs
       |  FROM documents),
       |ids AS (SELECT doc_id,
       |    list_transform(shs, t -> ${tokD("t")}) AS sids
       |  FROM d WHERE len(shs) > 0),
       |sigs AS (SELECT doc_id, $minhashSigD AS sig FROM ids),
       |bands AS (SELECT doc_id,
       |    concat_ws(':', band, sig[4*band+1], sig[4*band+2],
       |      sig[4*band+3], sig[4*band+4]) AS band_key
       |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |v AS (SELECT c.a_id, c.b_id FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.a_id
       |  JOIN sigs sb ON sb.doc_id = c.b_id
       |  WHERE len(list_filter(list_transform(range(0, 16),
       |    k -> sa.sig[k+1] = sb.sig[k+1]), x -> x)) >= 8),
       |sym AS (SELECT a_id AS u, b_id AS v FROM v
       |  UNION SELECT b_id, a_id FROM v),
       |reach AS (SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |  WHERE s.v <> r.u),
       |lab AS (SELECT u AS id, least(u, min(v)) AS component
       |  FROM reach GROUP BY u),
       |ranked AS (SELECT l.component, l.id, dd.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY l.component
       |      ORDER BY dd.n_chars DESC, l.id ASC) AS rn
       |  FROM lab l JOIN documents dd ON dd.doc_id = l.id),
       |canon AS (SELECT 'canonical' AS op, component AS k1,
       |    CAST(MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS k2,
       |    COUNT(*) AS v1, CAST(SUM(n_chars) AS BIGINT) AS v2,
       |    CAST(NULL AS VARCHAR) AS tag
       |  FROM ranked GROUP BY component),
       |grp AS (SELECT dd.doc_id,
       |    COALESCE(l.component, dd.doc_id) AS group_id
       |  FROM documents dd LEFT JOIN lab l ON l.id = dd.doc_id),
       |sp AS (SELECT doc_id, group_id,
       |    CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 100 AS bucket FROM grp),
       |spl AS (SELECT 'split' AS op, doc_id AS k1, group_id AS k2,
       |    CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2,
       |    CASE WHEN bucket < 80 THEN 'train'
       |      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS tag
       |  FROM sp),
       |pos AS (SELECT 'pairs' AS op, a.component AS k1, a.id AS k2,
       |    b.id AS v1, CAST(NULL AS BIGINT) AS v2,
       |    CAST(NULL AS VARCHAR) AS tag
       |  FROM lab a JOIN lab b
       |    ON a.component = b.component AND a.id < b.id)
       |SELECT * FROM canon
       |UNION ALL SELECT * FROM spl
       |UNION ALL SELECT * FROM pos
       |ORDER BY op, k1, k2, v1""".stripMargin

  /** q161 — Count-Min frequency sketch
    * ([[graft.ext.Sketch.cmSketch]], Cormode & Muthukrishnan 2005):
    * 4×1024 additive cells over the corpus token counts, probed with
    * the top-20 tokens — estimates are min-over-rows and, like the
    * KMV estimates, pure functions of the input multiset (disjoint
    * md5 slices), so the oracle replays cells AND estimates exactly;
    * exact counts ride along to show the ≥-true-count guarantee.
    * Cells are additive (mergeable by SUM — the LM-count law), and
    * the sketch answers frequency queries from d·w longs with no
    * vocabulary-sized state. */
  def q161(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketch
    val tc = spreadDocs(s, dir)
      .select(explode(expr(toksE)).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // sketch + probes + exacts share one scan
    val sk = Sketch.cmSketch(tc, "t", "c")
    val probes = tc.orderBy(col("c").desc, col("t")).limit(20)
    Sketch.cmEstimate(sk, probes.select(col("t")))
      .join(probes.select(col("t"), col("c").as("exact")), Seq("t"))
      .select(col("t"), col("est"), col("exact"))
      .orderBy(col("t"))
  }

  val q161Sql: String =
    s"""WITH tc AS (
       |  SELECT t, COUNT(*) AS c
       |  FROM (SELECT unnest($toksD) AS t FROM documents) GROUP BY t),
       |cells AS (
       |  SELECT r,
       |    CAST(('0x' || substr(md5(t), 1 + r * 7, 7)) AS BIGINT)
       |      % 1024 AS cell, c
       |  FROM tc, (SELECT unnest(range(0, 4)) AS r)),
       |sk AS (SELECT r, cell, CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM cells GROUP BY 1, 2),
       |probes AS (SELECT t, c AS exact FROM tc
       |  ORDER BY c DESC, t LIMIT 20),
       |pc AS (
       |  SELECT p.t, p.exact, r.r,
       |    CAST(('0x' || substr(md5(p.t), 1 + r.r * 7, 7)) AS BIGINT)
       |      % 1024 AS cell
       |  FROM probes p, (SELECT unnest(range(0, 4)) AS r) r)
       |SELECT pc.t, MIN(COALESCE(sk.cnt, 0)) AS est,
       |  MAX(pc.exact) AS exact
       |FROM pc LEFT JOIN sk ON sk.r = pc.r AND sk.cell = pc.cell
       |GROUP BY pc.t ORDER BY pc.t""".stripMargin

  /** q162 — curation from ONE materialized near-dup result
    * ([[graft.ext.Dedup.writeNearDupResult]] /
    * [[graft.ext.Dedup.readNearDupResult]]): the MinHash → LSH →
    * verify → CC pipeline runs ONCE and its (pairs, components)
    * frames land as graft tables; canonical selection (q94's op),
    * the leakage-safe cluster split (q130's) and contrastive positive
    * pairs (q137's) then all consume the SAME stored result — the
    * shape a 100 TB curation run wants, paying the expensive pair
    * pipeline once per corpus snapshot instead of once per consumer.
    * The three consumers' rows are tagged and unioned; the oracle is
    * the three existing oracles over one shared cluster labeling, so
    * a hash match proves the materialized round trip changes NOTHING
    * in any consumer. */
  def q162(s: SparkSession, dir: String): DataFrame = {
    val out = QueryDef.scratchDir("neardup_result")
    val docs = spreadDocs(s, dir)
    graft.ext.Dedup.writeNearDupResult(
      graft.ext.Dedup.near(docs, "text", "doc_id"), out)
    val res = graft.ext.Dedup.readNearDupResult(s, out, docs, "doc_id")
    val canonical = graft.ext.Dedup
      .canonicalByQuality(res, docs, "doc_id", "n_chars")
      .select(lit("canonical").as("op"), col("cluster_id").as("k1"),
        col("kept_id").as("k2"), col("n_members").as("v1"),
        col("total_quality").as("v2"),
        lit(null).cast("string").as("tag"))
    val split = graft.ext.Sampling
      .clusterSplit(docs.select(col("doc_id")), "doc_id",
        res.components)
      .select(lit("split").as("op"), col("doc_id").as("k1"),
        col("group_id").as("k2"), lit(null).cast("long").as("v1"),
        lit(null).cast("long").as("v2"), col("split").as("tag"))
    val pos = graft.ext.Dedup.positivePairs(res)
      .select(lit("pairs").as("op"), col("cluster_id").as("k1"),
        col("a_id").as("k2"), col("b_id").as("v1"),
        lit(null).cast("long").as("v2"),
        lit(null).cast("string").as("tag"))
    canonical.unionByName(split).unionByName(pos)
      .orderBy(col("op"), col("k1"), col("k2"), col("v1"))
  }

  val q162Sql: String =
    s"""$clusterBodyD,
       |ranked AS (SELECT l.component, l.id, dd.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY l.component
       |      ORDER BY dd.n_chars DESC, l.id ASC) AS rn
       |  FROM lab l JOIN documents dd ON dd.doc_id = l.id),
       |canon AS (SELECT 'canonical' AS op, component AS k1,
       |    CAST(MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS k2,
       |    COUNT(*) AS v1, CAST(SUM(n_chars) AS BIGINT) AS v2,
       |    CAST(NULL AS VARCHAR) AS tag
       |  FROM ranked GROUP BY component),
       |grp AS (SELECT dd.doc_id,
       |    COALESCE(l.component, dd.doc_id) AS group_id
       |  FROM documents dd LEFT JOIN lab l ON l.id = dd.doc_id),
       |sp AS (SELECT doc_id, group_id,
       |    CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 7))
       |      AS BIGINT) % 100 AS bucket FROM grp),
       |spl AS (SELECT 'split' AS op, doc_id AS k1, group_id AS k2,
       |    CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2,
       |    CASE WHEN bucket < 80 THEN 'train'
       |      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS tag
       |  FROM sp),
       |pos AS (SELECT 'pairs' AS op, a.component AS k1, a.id AS k2,
       |    b.id AS v1, CAST(NULL AS BIGINT) AS v2,
       |    CAST(NULL AS VARCHAR) AS tag
       |  FROM lab a JOIN lab b
       |    ON a.component = b.component AND a.id < b.id)
       |SELECT * FROM canon
       |UNION ALL SELECT * FROM spl
       |UNION ALL SELECT * FROM pos
       |ORDER BY op, k1, k2, v1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q28_token_stats", q28, Some(q28Sql)),
    QueryDef("q29_quality_score", q29, Some(q29Sql)),
    QueryDef("q30_langid", q30, Some(q30Sql)),
    QueryDef("q31_exact_dedup", q31, Some(q31Sql)),
    QueryDef("q32_fingerprint", q32, Some(q32Sql)),
    QueryDef("q33_ngram_jaccard", q33, Some(q33Sql)),
    QueryDef("q34_minhash_lsh", q34, Some(q34Sql)),
    QueryDef("q35_simhash", q35, Some(q35Sql)),
    QueryDef("q59_ngram_jaccard_capped", q59, Some(q59Sql)),
    QueryDef("q60_hash_split", q60, Some(q60Sql)),
    QueryDef("q61_seq_packing", q61, Some(q61Sql)),
    QueryDef("q62_dataset_mix", q62, Some(q62Sql)),
    QueryDef("q63_decontaminate", q63, Some(q63Sql)),
    QueryDef("q64_repetition", q64, Some(q64Sql)),
    QueryDef("q65_chunking", q65, Some(q65Sql)),
    QueryDef("q66_stratified_sample", q66, Some(q66Sql)),
    QueryDef("q67_df_prune", q67, Some(q67Sql)),
    QueryDef("q68_normalize", q68, Some(q68Sql)),
    QueryDef("q70_quality_rules", q70, Some(q70Sql)),
    QueryDef("q71_heavy_hitters", q71, Some(q71Sql)),
    QueryDef("q73_span_dedup", q73, Some(q73Sql)),
    QueryDef("q74_bloom_decontaminate", q74, Some(q74Sql)),
    QueryDef("q76_bpe_pairs", q76, Some(q76Sql)),
    QueryDef("q77_tfidf", q77, Some(q77Sql)),
    QueryDef("q80_dup_matrix", q80, Some(q80Sql)),
    QueryDef("q81_incremental_dedup", q81, Some(q81Sql)),
    QueryDef("q82_incremental_neardup", q82, Some(q82Sql)),
    QueryDef("q89_bigram_coverage", q89, Some(q89Sql)),
    QueryDef("q92_bm25_retrieval", q92, Some(q92Sql)),
    QueryDef("q93_hybrid_rrf", q93, Some(q93Sql)),
    QueryDef("q94_canonical_neardup", q94, Some(q94Sql)),
    QueryDef("q95_importance_weights", q95, Some(q95Sql)),
    QueryDef("q96_importance_resample", q96, Some(q96Sql)),
    QueryDef("q97_temperature_sample", q97, Some(q97Sql)),
    QueryDef("q103_perplexity_buckets", q103, Some(q103Sql)),
    QueryDef("q106_top_fraction", q106, Some(q106Sql)),
    QueryDef("q108_bpe_train", q108, Some(q108Sql)),
    QueryDef("q109_bpe_encode", q109, Some(q109Sql)),
    QueryDef("q112_classifier_train", q112, Some(q112Sql)),
    QueryDef("q113_classifier_score", q113, Some(q113Sql)),
    QueryDef("q114_budget_mix", q114, Some(q114Sql)),
    QueryDef("q115_shard_assign", q115, Some(q115Sql)),
    QueryDef("q117_containment", q117, Some(q117Sql)),
    QueryDef("q118_rank_normalize", q118, Some(q118Sql)),
    QueryDef("q120_sample_exact_k", q120, Some(q120Sql)),
    QueryDef("q192_weighted_sample", q192, Some(q192Sql)),
    QueryDef("q202_weighted_sample_incr", q202, Some(q192Sql)),
    QueryDef("q206_lm_cdf_sync", q206, Some(q206Sql)),
    QueryDef("q196_image_dhash", q196, Some(q196Sql)),
    QueryDef("q198_dhash_incremental", q198, Some(q198Sql)),
    QueryDef("q199_audio_fingerprint", q199, Some(q199Sql)),
    QueryDef("q121_span_rewrite", q121, Some(q121Sql)),
    QueryDef("q124_classifier_cut", q124, Some(q124Sql)),
    QueryDef("q128_token_entropy", q128, Some(q128Sql)),
    QueryDef("q130_cluster_split", q130, Some(q130Sql)),
    QueryDef("q131_ngram_novelty", q131, Some(q131Sql)),
    QueryDef("q132_skipgram_pairs", q132, Some(q132Sql)),
    QueryDef("q133_self_span_dedup", q133, Some(q133Sql)),
    QueryDef("q135_bm25_indexed", q135, Some(q135Sql)),
    QueryDef("q136_bm25_incremental", q136, Some(q136Sql)),
    QueryDef("q137_positive_pairs", q137, Some(q137Sql)),
    QueryDef("q138_pmi_collocations", q138, Some(q138Sql)),
    QueryDef("q141_bm25_compacted", q141, Some(q141Sql)),
    QueryDef("q144_winnow_fingerprints", q144, Some(q144Sql)),
    QueryDef("q145_winnow_overlap_pairs", q145, Some(q145Sql)),
    QueryDef("q146_blocklist_filter", q146, Some(q146Sql)),
    QueryDef("q147_winnow_incremental", q147, Some(q147Sql)),
    QueryDef("q148_stupid_backoff", q148, Some(q148Sql)),
    QueryDef("q149_unimax_sample", q149, Some(q149Sql)),
    QueryDef("q151_lm_incremental", q151, Some(q151Sql)),
    QueryDef("q153_pii_scrub", q153, Some(q153Sql)),
    QueryDef("q152_dataset_card", q152, Some(q152Sql)),
    QueryDef("q155_winnow_per_source", q155, Some(q155Sql)),
    QueryDef("q154_langid_trained", q154, Some(q154Sql)),
    QueryDef("q160_clipped_ngram", q160, Some(q160Sql)),
    QueryDef("q161_countmin_freq", q161, Some(q161Sql)),
    QueryDef("q162_curation_materialized", q162, Some(q162Sql)),
    QueryDef("q164_chrf", q164, Some(q164Sql)),
    QueryDef("q165_curation_incremental", q165, Some(q165Sql)),
    QueryDef("q166_chrf_corpus", q166, Some(q166Sql)),
    QueryDef("q167_index_retract", q167, Some(q167Sql)),
    QueryDef("q168_neardup_retract", q168, Some(q168Sql)),
    QueryDef("q170_rouge_l", q170, Some(q170Sql)),
    QueryDef("q171_dup_substrings", q171, Some(q171Sql)),
    QueryDef("q172_dup_substring_rewrite", q172, Some(q172Sql)),
    QueryDef("q173_dup_substrings_incr", q173, Some(q173Sql)),
    QueryDef("q174_rouge_l_corpus", q174, Some(q174Sql)),
    QueryDef("q175_lexical_retract", q175, Some(q175Sql)),
    QueryDef("q176_keeper_reelection", q176, Some(q176Sql)),
    QueryDef("q177_corpus_bleu", q177, Some(q177Sql)),
    QueryDef("q179_bpe_train_local", q179, Some(q179Sql)),
    QueryDef("q180_kneser_ney", q180, Some(q180Sql)),
    QueryDef("q183_bpe_fertility", q183, Some(q183Sql)),
    QueryDef("q187_kneser_ney_trigram", q187, Some(q187Sql)),
    QueryDef("q193_moore_lewis", q193, Some(q193Sql)))
}
