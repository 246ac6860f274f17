package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Benchmark decontamination at corpus scale — flag training documents
  * sharing verbatim n-grams with an evaluation set (the GPT-3/PaLM
  * 13-gram rule; `n` is a parameter because synthetic corpora need
  * shorter grams to exercise the path).
  *
  * Scale design: the eval set is SMALL by definition (benchmarks are
  * thousands of documents; the corpus is billions), so its distinct
  * n-gram ids fit on the driver. They are packed into a Bloom filter
  * whose serialized bytes ride into the scan as a LITERAL probed by
  * Spark's own codegen'd `BloomFilterMightContain` — the exact
  * expression/sketch pairing `InjectRuntimeFilter` uses for shuffle
  * pruning. The corpus-side explode is filtered AT SCAN SPEED before
  * anything shuffles; only the ~fpp survivors reach the exact
  * verification join (broadcast, eval-sized), which removes Bloom
  * false positives — so the final answer is EXACT, and the oracle can
  * hash-match it, while the 100 TB corpus pays one scan and a
  * near-empty aggregation.
  */
object Decontaminate {

  /** df + a `sids` column of DISTINCT word-`n`-gram 56-bit md5-prefix
    * ids (engine-portable — DuckDB derives identical ids; narrow on
    * the wire). Computed by the native codegen'd `ngram_sids`
    * expression — ONE pass of JVM code per row; the equivalent
    * built-in HOF composition ([[ngramSidsBuiltin]]) interprets a
    * slice + concat + md5 + conv lambda per n-gram position (measured
    * ~6 s vs sub-second on the sf0.1 corpus explode) and is kept only
    * as the bit-equality reference the spec checks. */
  def withNgramSids(df: DataFrame, textCol: String, n: Int,
      out: String = "sids"): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    import org.apache.spark.sql.graftshim.ColumnShim
    df.withColumn(out, ColumnShim.column(
      graft.functions.NgramSids(
        ColumnShim.expression(col(textCol)), n)))
  }

  /** The portable built-in composition of [[withNgramSids]]'s id
    * derivation (what the DuckDB oracle mirrors) — spec reference
    * only; the interpreted per-position lambda is ~10× the native
    * expression's cost. */
  private[graft] def ngramSidsBuiltin(df: DataFrame, textCol: String,
      n: Int, out: String = "sids"): DataFrame = {
    val sidsE =
      s"""CASE WHEN size(__toks) >= $n THEN
         |  array_distinct(transform(
         |    sequence(0, size(__toks) - $n),
         |    i -> CAST(conv(substring(md5(concat_ws(' ',
         |           slice(__toks, i + 1, $n))),
         |         1, 14), 16, 10) AS BIGINT)))
         |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin
    df.withColumn("__toks", split(trim(col(textCol)), "\\s+"))
      .withColumn(out, expr(sidsE))
      .drop("__toks")
  }

  /** Per-document contamination counts: (id, n_shared) for every
    * corpus document sharing ≥ 1 distinct n-gram with the eval set.
    * The Bloom prefilter is built as a Catalyst expression directly
    * (no session-extension dependency); `might_contain` remains
    * registered for SQL users. */
  def contaminated(corpus: DataFrame, eval: DataFrame, textCol: String,
      idCol: String, n: Int = 13, fpp: Double = 0.01): DataFrame = {
    // distinct eval n-gram ids: driver-bounded by eval-set size.
    // Collected ONCE; the verify-join broadcast side is rebuilt from
    // the collected array instead of re-running the eval explode.
    val spark = corpus.sparkSession
    val evalIds = withNgramSids(eval, textCol, n)
      .select(explode(col("sids")).as("sid")).distinct()
      .as(org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    val evalSids = spark.createDataset(evalIds.toIndexedSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("sid")

    val exploded = withNgramSids(corpus, textCol, n)
      .select(col(idCol).as("id"), explode(col("sids")).as("sid"))
    val prefiltered =
      if (evalIds.nonEmpty) {
        val bloom = BloomFilter.create(math.max(evalIds.length, 64L), fpp)
        evalIds.foreach(bloom.putLong)
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        // the serialized sketch rides into the scan as a BINARY
        // LITERAL, exactly how InjectRuntimeFilter plants its runtime
        // filters; built as an expression directly — routing the
        // multi-hundred-KB sketch through the SQL parser as an X'…'
        // hex literal costs seconds of lexing per call
        exploded.filter(org.apache.spark.sql.graftshim.ColumnShim
          .column(org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain(
              org.apache.spark.sql.catalyst.expressions.Literal
                .create(bos.toByteArray,
                  org.apache.spark.sql.types.BinaryType),
              org.apache.spark.sql.graftshim.ColumnShim
                .expression(col("sid")))))
      } else exploded
    // exact verify kills Bloom false positives: broadcast the
    // eval-sized id set; result is exact
    prefiltered.join(broadcast(evalSids), Seq("sid"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
