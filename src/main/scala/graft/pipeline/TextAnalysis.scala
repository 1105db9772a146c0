package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language-ID heuristic, quality scoring, document
  * fingerprinting. All are pure narrow transformations (no shuffle) of
  * codegen'd `functions._` expressions — they scale linearly with
  * input splits at 100 TB and stay inside WholeStageCodegen.
  */
object TextAnalysis {

  /** Whitespace tokenization — single-space split kept deliberately
    * simple so the DuckDB oracle (`string_split(text, ' ')`) computes
    * the identical token stream. */
  def tokens(text: Column): Column = split(text, " ")

  /** Token-stream ANALYZER — the normalization a real retrieval
    * corpus needs (a case-mismatched query against a raw index
    * silently returns nothing), applied IDENTICALLY at index build,
    * incremental append and every query path: the configuration is
    * persisted WITH the index ([[buildTextIndex]] writes it,
    * [[readAnalyzer]] reads it), so a query can never be analyzed
    * differently from the postings it probes. The stages are
    * lowercase → stopword removal → S-stemming, each exactly
    * replayable by a SQL oracle (`lower()`, `list_filter`, and a
    * nested `regexp_replace` CASE). The identity analyzer produces
    * the exact [[tokens]] stream, so every pre-analyzer index and
    * oracle is unchanged.
    *
    * With a stopword list, token POSITIONS index the ANALYZED
    * sequence (stopwords removed before positions are assigned):
    * phrase/NEAR adjacency means "adjacent ignoring stopwords",
    * standard analyzer behavior. The stemmer maps tokens 1:1 (never
    * drops one), so it shifts no position — phrase/NEAR semantics
    * hold over stemmed token streams unchanged.
    *
    * `stemmer` is the S-stemmer class (Harman's "How Effective Is
    * Suffixing?" family) — the plural-stripping subset that closes
    * most English morphology misses ("index" vs "indexes") while
    * staying engine-portable: three ordered suffix rules with guard
    * characters, no dictionary. First matching rule wins:
    * `-ies → -y` unless preceded by e/a (entries→entry);
    * `-es → -e` unless preceded by a/e/o (indexes→indexe, the
    * family's standard behavior — query "indexes" meets corpus
    * "indexe(s)" at the same stem);
    * `-s → ∅` unless preceded by u/s (columns→column; bus, class
    * unchanged). */
  final case class Analyzer(lowercase: Boolean = false,
                            stopwords: Seq[String] = Nil,
                            stemmer: Boolean = false) {
    def isIdentity: Boolean = !lowercase && stopwords.isEmpty && !stemmer

    /** The analyzed token sequence of a text column. */
    def tokensOf(text: Column): Column = {
      val base = tokens(if (lowercase) lower(text) else text)
      val stopped =
        if (stopwords.isEmpty) base
        else filter(base, t => !t.isin(stopwords: _*))
      if (!stemmer) stopped
      else transform(stopped, t => Analyzer.stemToken(t))
    }

    /** Query-side twin: normalize literal query terms the way the
      * index normalized its tokens (stopword terms drop, plurals
      * stem). */
    def apply(ts: Seq[String]): Seq[String] = {
      val lc = if (lowercase) ts.map(_.toLowerCase(java.util.Locale.ROOT))
               else ts
      val stop = stopwords.toSet
      val stopped = lc.filterNot(stop)
      if (!stemmer) stopped else stopped.map(Analyzer.stemTerm)
    }
  }

  object Analyzer {
    val identity: Analyzer = Analyzer()

    /** One token through the S-stemmer, as a Catalyst expression —
      * rlike/regexp_replace with character classes only, valid and
      * identical under Java regex and RE2, so the DuckDB oracle
      * replays it with regexp_matches/regexp_replace byte for
      * byte. */
    def stemToken(t: Column): Column =
      when(t.rlike("[^ea]ies$"), regexp_replace(t, "ies$", "y"))
        .when(t.rlike("[^aeo]es$"), regexp_replace(t, "es$", "e"))
        .when(t.rlike("[^us]s$"), regexp_replace(t, "s$", ""))
        .otherwise(t)

    /** The driver-side twin of [[stemToken]] for literal query
      * terms — same three rules, same guards, same order. */
    def stemTerm(t: String): String =
      if (t.length >= 4 && t.endsWith("ies") &&
        !"ea".contains(t.charAt(t.length - 4))) t.dropRight(3) + "y"
      else if (t.length >= 3 && t.endsWith("es") &&
        !"aeo".contains(t.charAt(t.length - 3))) t.dropRight(1)
      else if (t.length >= 2 && t.endsWith("s") &&
        !"us".contains(t.charAt(t.length - 2))) t.dropRight(1)
      else t
  }

  /** The analyzer persisted with a text index (identity when the
    * index predates analyzers or was built with the identity). `root`
    * must be a RESOLVED generation root. Memoized per generation
    * ([[GenCache]]) — one parquet head per generation instead of per
    * query operation; flat roots read through every call. */
  def readAnalyzer(spark: org.apache.spark.sql.SparkSession,
                   root: String): Analyzer =
    GenCache.memo(spark, root, "analyzer")(readAnalyzerUncached(spark, root))

  private def readAnalyzerUncached(spark: org.apache.spark.sql.SparkSession,
                                   root: String): Analyzer = {
    val p = new org.apache.hadoop.fs.Path(s"$root/analyzer")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Analyzer.identity
    else {
      val df = spark.read.parquet(p.toString)
      // pre-stemmer artifacts carry no stemmer column: absent = false,
      // so every existing index reads back byte-identically
      val r = df.select(col("lowercase"), col("stopwords"),
        (if (df.columns.contains("stemmer")) col("stemmer")
         else lit(false)).as("stemmer")).head()
      Analyzer(r.getBoolean(0), r.getSeq[String](1), r.getBoolean(2))
    }
  }

  /** One committed-generation resolution per index operation (see
    * [[graft.pipeline.IndexGen]]) plus the analyzer that generation
    * was built with — every query path starts here so postings,
    * stats, doclens AND term normalization come from ONE generation. */
  private def resolvedIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String): (String, Analyzer) = {
    val root = IndexGen.resolveRoot(spark, path)
    (root, readAnalyzer(spark, root))
  }

  /** PII redaction — the standard scrub pass a training corpus runs
    * before anything else: emails, IPv4 addresses, and phone-shaped
    * number runs collapse to placeholder tokens. Ordered (emails
    * first: an address contains digit runs a later phone pattern
    * would otherwise mangle; IPs before phones for the same reason).
    * Patterns use only character classes + bounded repetition, valid
    * and IDENTICAL under Java regex and RE2, so the DuckDB oracle
    * (`regexp_replace(..., 'g')`) reproduces the output byte for
    * byte. Pure codegen'd narrow op — scales with input splits. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Pattern = "[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?"
  val PhonePattern = "\\+[0-9][0-9()\\- ]{7,14}[0-9]"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Language-ID: marker-stopword n-gram heuristic. First matching
    * marker wins (ordered when-chain ⇒ deterministic, and expressible
    * 1:1 in the SQL oracle as list_contains CASE). */
  val langMarkers: Seq[(String, String)] = Seq(
    "the" -> "en", "le" -> "fr", "el" -> "es", "der" -> "de", "de" -> "zh")

  def langId(text: Column): Column = {
    val toks = tokens(text)
    langMarkers.foldRight(lit("und"): Column) { case ((marker, lang), acc) =>
      when(array_contains(toks, marker), lit(lang)).otherwise(acc)
    }
  }

  /** Quality metrics: length, long-token ratio, mean token length,
    * punctuation ratio. Ratios are computed from integer counts so
    * they bit-match any engine doing the same integer→double division. */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("n_tokens", size(toks))
      .withColumn("n_long_tokens", size(filter(toks, t => length(t) > 3)))
      .withColumn("mean_token_len",
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
      .withColumn("long_token_ratio",
        col("n_long_tokens").cast("double") / col("n_tokens"))
  }

  /** Intra-document repetition signals (the Gopher/RefinedWeb-style
    * repetition filters a training corpus screens on): duplicate-word
    * count and the multiplicity of the most repeated word bigram.
    * All outputs are integer counts, so any engine computes the
    * identical values. Narrow and shuffle-free: the bigram mode folds
    * over the SORTED per-doc bigram array (longest equal run = max
    * multiplicity) instead of explode+groupBy, so nothing leaves the
    * input split — at 100 TB the alternative shuffles one row per
    * bigram occurrence. Arrays are staged as real columns first
    * (lambda-subtree re-evaluation gotcha). */
  def withRepetitionSignals(df: DataFrame, textCol: String,
                            /** Retain the staged token array under
                              * this name so callers layering more
                              * token signals (gopherFilter) reuse ONE
                              * split instead of re-tokenizing. */
                            keepTokens: Option[String] = None): DataFrame = {
    Seq("__toks", "__bg_sorted").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a column named '$c' — rename it first"))
    keepTokens.filter(_ != "__toks").foreach(n =>
      require(!df.columns.contains(n),
        s"keepTokens target '$n' collides with an input column"))
    val staged = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__bg_sorted",
        sort_array(when(size(col("__toks")) < 2, array().cast("array<string>"))
          .otherwise(zip_with(
            slice(col("__toks"), lit(1), size(col("__toks")) - 1),
            slice(col("__toks"), lit(2), size(col("__toks")) - 1),
            (a, b) => concat(a, lit(" "), b)))))
    staged
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(col("__toks"))).cast("long"))
      .withColumn("dup_words", col("n_words") - col("n_distinct_words"))
      .withColumn("top_bigram_count",
        // coalesce: a null text has a null token array, and the fold
        // over it is null — but "no bigrams repeat" is 0, and the SQL
        // oracle already says 0 for null documents (ADVICE r8)
        coalesce(aggregate(col("__bg_sorted"),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, b) => {
            val run = when(acc.getField("prev") === b, acc.getField("run") + 1L)
              .otherwise(lit(1L))
            struct(b.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best")), lit(0L)))
      .drop("__bg_sorted")
      .withColumnsRenamed(keepTokens.map("__toks" -> _).toMap)
      .drop((if (keepTokens.isEmpty) Seq("__toks") else Seq.empty[String]): _*)
  }

  /** Gopher-style composite quality gate: the document-level filter
    * rules a training corpus screens on (word-count band, mean word
    * length band, alphabetic-word ratio, duplicate-word fraction,
    * top-bigram fraction), folded into one verdict plus the FIRST
    * failing rule as a machine-readable reason — the audit trail a
    * filtering pipeline reports ("why was this dropped").
    *
    * Every threshold compares INTEGER cross-products (e.g. alpha
    * ratio ≥ 0.8 is `5 * alpha_words >= 4 * n_words`), never computed
    * ratios — the verdicts are bit-exact on any engine, so the SQL
    * oracle replays them verbatim. Narrow and shuffle-free on top of
    * [[withRepetitionSignals]].
    *
    * Adds `quality_reason` (null = clean) and `quality_pass`.
    */
  def gopherFilter(df: DataFrame, textCol: String,
                   minWords: Long = 20L, maxWords: Long = 100000L): DataFrame = {
    Seq("quality_reason", "quality_pass", "n_words", "n_distinct_words",
        "dup_words", "top_bigram_count", "__toks", "__bg_sorted", "__sum_len",
        "__alpha_words").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a column named '$c' — rename it before filtering"))
    // ONE tokenization: the repetition stage keeps its staged array
    val staged = withRepetitionSignals(df, textCol, keepTokens = Some("__toks"))
      .withColumn("__sum_len",
        aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t)))
      .withColumn("__alpha_words",
        size(filter(col("__toks"), t => t.rlike("[a-zA-Z]"))).cast("long"))
    val n = col("n_words")
    // a null/absent document must FAIL the gate, not slip through the
    // when-chain as a null reason (NULL conditions are "false")
    val reason = when(col(textCol).isNull, "empty")
      .when(n < minWords, "too_short")
      .when(n > maxWords, "too_long")
      .when(col("__sum_len") < lit(3L) * n || col("__sum_len") > lit(10L) * n,
        "mean_word_len")                                   // mean ∉ [3, 10]
      .when(col("__alpha_words") * 5 < n * 4, "alpha_ratio")      // < 0.8
      .when(col("dup_words") * 10 > n * 3, "dup_words")           // > 0.3
      .when(col("top_bigram_count") * 5 > n, "top_bigram")        // > 0.2
    staged
      .withColumn("quality_reason", reason)
      .withColumn("quality_pass", reason.isNull)
      .drop("__toks", "__sum_len", "__alpha_words")
  }

  /** Corpus token vocabulary (tokenizer-training prep): global token
    * frequencies, top `k` by count with the tie broken on the token
    * so the cut is deterministic. Partial (map-side) aggregation then
    * a TakeOrdered of k rows — the full vocabulary never concentrates
    * on one node. */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Corpus unigram language-model score — the perplexity-filter
    * signal of CCNet-style pipelines without an external model: token
    * probability `p(t) = c_t / N` comes from the corpus itself (top-k
    * vocabulary; out-of-vocabulary tokens score as singletons,
    * `c = 1`), and a document's score is its mean negative
    * log-likelihood — high = improbable/noisy text, the filter axis.
    *
    * Results are emitted as EXACT integers: each token's cost is
    * pre-quantized to micro-nats (`floor(-ln(p) * 1e6)`) on the k-row
    * vocabulary table, and documents sum those longs — bit-stable
    * under any partitioning or addition order, and replayable
    * digit-for-digit by a SQL oracle.
    *
    * Scale shape: vocabulary is a partial-agg TakeOrdered(k); the
    * corpus-sized path is explode → BROADCAST join against the k-row
    * cost table (no shuffle) → one partial-aggregated
    * `groupBy(doc)` — a single shuffle carrying one (doc, sum, count)
    * triple per doc per partition.
    *
    * Returns (idCol, lp_sum, n_toks); mean micro-nats per token is
    * `lp_sum / n_toks`.
    */
  def withLmScore(df: DataFrame, idCol: String, textCol: String,
                  vocabK: Int): DataFrame = {
    Seq("token", "lp", "__tok", "lp_sum", "n_toks").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a column named '$c' — rename it before scoring"))
    val spark = df.sparkSession
    import spark.implicits._
    // ONE corpus-wide tokenization feeds both the total and the top-k
    // cut: the frequency aggregate is persisted (vocab-sized rows, far
    // below corpus size) so its two consumers share the scan
    val freqs = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val totalRow = freqs.agg(sum(col("freq"))).collect()(0)
      require(!totalRow.isNullAt(0) && totalRow.getLong(0) > 0,
        "empty corpus: nothing to score")
      val total = totalRow.getLong(0)
      // micro-nat quantization floor(-ln(c/N)*1e6): ln is evaluated
      // ONCE, on the driver, over k+1 exact integer ratios — the only
      // cross-engine exposure left is the oracle's own ln, which
      // flips a cost only when -ln(p)*1e6 lands within ~1e-9 of an
      // integer (vanishing for a fixed dataset, and verified by the
      // oracle run)
      def lp(c: Long): Long = math.floor(-math.log(c.toDouble / total) * 1e6).toLong
      val costs = freqs
        .orderBy(col("freq").desc, col("token").asc).limit(vocabK)
        .collect().map(r => r.getString(0) -> lp(r.getLong(1))).toSeq
        .toDF("token", "lp")
      val oovLp = lp(1L)
      // explode_outer keeps null/token-less docs in the output with a
      // zero score instead of silently dropping them
      df.select(col(idCol), explode_outer(tokens(col(textCol))).as("__tok"))
        .join(broadcast(costs), col("__tok") === col("token"), "left")
        .groupBy(col(idCol))
        .agg(
          coalesce(sum(when(col("__tok").isNotNull,
            coalesce(col("lp"), lit(oovLp)))), lit(0L)).as("lp_sum"),
          count(col("__tok")).as("n_toks"))
    } finally freqs.unpersist()
  }

  /** Sliding-window document chunking — the embedding/RAG prep step
    * that cuts long documents into overlapping token windows. Pure
    * narrow Catalyst (`sequence` of window starts → `transform` +
    * `slice` → `posexplode`): no shuffle, no UDF, chunk counts scale
    * with the document, never the corpus. A document shorter than the
    * window yields exactly one chunk (itself); the final chunk may be
    * shorter than the window (standard tokenizer-prep semantics).
    *
    * Window starts walk 1, 1+stride, … up to the FIRST stride point
    * whose window reaches the document end — every token lands in at
    * least one chunk (full coverage), and no start begins past the
    * last needed window (no degenerate tail chunks).
    *
    * Output: input columns + (chunk_idx, chunk_text, n_chunk_tokens).
    */
  def chunkDocuments(df: DataFrame, textCol: String,
                     windowTokens: Int, strideTokens: Int): DataFrame = {
    require(windowTokens > 0, s"window must be positive, got $windowTokens")
    require(strideTokens > 0, s"stride must be positive, got $strideTokens")
    require(strideTokens <= windowTokens,
      s"stride $strideTokens > window $windowTokens would skip tokens " +
        "between windows, breaking the full-coverage invariant")
    Seq("chunk_idx", "chunk_text", "n_chunk_tokens", "__toks", "__chunks",
        "__chunk").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a column named '$c' — rename it before chunking"))
    val staged = df.withColumn("__toks", tokens(col(textCol)))
    // 1 + ceil(max(0, n-w) / s) * s — exact in doubles for any real
    // document length, floor'd back to a long
    val overhang = greatest(lit(0), size(col("__toks")) - windowTokens)
    val lastStart = (floor((overhang + strideTokens - 1)
      / strideTokens.toDouble) * strideTokens + 1).cast("int")
    staged
      // a null document has NO chunks (posexplode of the empty array
      // emits nothing) — not one phantom row of null text
      .withColumn("__chunks",
        when(col("__toks").isNull, array().cast("array<array<string>>"))
          .otherwise(transform(sequence(lit(1), lastStart, lit(strideTokens)),
            start => slice(col("__toks"), start, lit(windowTokens)))))
      .select(staged.columns.map(col) :+
        posexplode(col("__chunks")).as(Seq("chunk_idx", "__chunk")): _*)
      .withColumn("chunk_text", array_join(col("__chunk"), " "))
      .withColumn("n_chunk_tokens", size(col("__chunk")).cast("long"))
      .drop("__toks", "__chunk", "__chunks")
  }

  /** Per-document salient terms by TF-IDF — the keyword-extraction /
    * topic-tagging pass of a corpus pipeline. Term frequency is the
    * token's count within the document; inverse document frequency is
    * `ln(N / df)` over the whole corpus, pre-quantized to micro-nats
    * (`floor(ln(N/df) * 1e6)` as a long) so scores are exact integers
    * and the ranking is bit-stable across engines and partitionings
    * (same quantization contract as [[withLmScore]]; the only
    * cross-engine exposure is ln's last ulp, which flips a score only
    * when `ln(N/df)*1e6` lands within ~1e-9 of an integer).
    *
    * Fully distributed — no driver state: the `(doc, token)` count
    * feeds both the scored side and the document-frequency rollup.
    * The two consumers each tokenize the corpus (plan audited: two
    * explode→partial-aggregate subtrees; both combine map-side before
    * their exchanges, so the second pass is one extra scan, not an
    * extra shuffle volume) — an explicit localCheckpoint stage was
    * MEASURED SLOWER at bench scale (eager materialization job +
    * block I/O > the re-scan); at 100 TB, where scans dominate, stage
    * the tf frame first via the dedup pipelines' staging pattern
    * (Dedup.withShingleHashes scaladoc). A window-over-token dfreq
    * would avoid the second pass but concentrates every occurrence of
    * a stopword token into one partition — a skew hazard the
    * partial-aggregated rollup doesn't have. The idf table joins back
    * on token (broadcast when it fits, sort-merge at vocabulary
    * scale), and the per-document top-k is a `row_number` window
    * partitioned by document — never a global sort (Spark's
    * WindowGroupLimit caps each partition at topPerDoc rows before
    * the final window). Ties break on the token string so the cut is
    * deterministic.
    *
    * Returns (idCol, token, tf, score, term_rank), `term_rank` 1-based,
    * at most `topPerDoc` rows per document. Tokens present in every
    * document score 0 (idf = 0) but still rank — a document of only
    * stopwords still reports its terms. */
  def topTfidfTerms(df: DataFrame, idCol: String, textCol: String,
                    topPerDoc: Int): DataFrame = {
    require(topPerDoc > 0, s"topPerDoc must be positive, got $topPerDoc")
    Seq("token", "tf", "dfreq", "idf", "score", "term_rank").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a column named '$c' — rename it before scoring"))
    val nDocs = df.count()
    require(nDocs > 0, "empty corpus: nothing to score")
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    // document frequency = number of (doc, token) rows per token
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("dfreq"))
      .withColumn("idf",
        floor(log(lit(nDocs.toDouble) / col("dfreq")) * 1e6).cast("long"))
      .select(col("token"), col("idf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(idf, "token")
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= topPerDoc)
      .select(col(idCol), col("token"), col("tf"), col("score"),
        col("term_rank"))
  }

  /** Document fingerprint: hash of the sorted distinct token set
    * (bag-of-words fingerprint). Identical token multisets — word
    * reorderings, duplicated runs — collide, which is the point:
    * grouping by the fingerprint is a cheap near-dup pass. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Rolling (polynomial) content hash over tokens — order-sensitive
    * cousin of [[fingerprint]]; pure Catalyst `aggregate`, no UDF.
    * Token hash = first 8 md5 hex digits, so the oracle replays it bit
    * for bit with list_reduce. State is kept below 2^31 so the
    * multiply never overflows under ANSI mode (Spark 4 default).
    * Per-token md5 only; no outer expression subtree enters the
    * lambda, so nothing re-evaluates per element. */
  def rollingHashPortable(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => (acc * lit(1000003L) +
        conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
        .bitwiseAND(lit(0x7FFFFFFFL)))

  /** Inverted term index AS A STORE: the compaction machinery doubles
    * as a text secondary index. Postings are distinct (token, doc_id)
    * rows; the store compacts token-range-CLUSTERED with manifest
    * stats on the token, so a term lookup reads only the parts whose
    * token range can hold it — at corpus scale, one term touches one
    * slice of the postings, never the whole index. Ingest appends
    * postings batches; compaction folds and re-clusters them exactly
    * like any other store. */
  val TermIndexOptions: graft.sources.Compact.Options =
    graft.sources.Compact.Options(l0MaxParts = 1,
      sortCols = Seq("token"), clusterByRange = true,
      statsCols = Seq("token"), l1PartBytes = 1L << 20)

  /** The postings of a document frame: distinct (token, doc_id),
    * empty tokens dropped. Same single-space tokenization as every
    * other text operator, so the oracle reproduces it. */
  def indexPostings(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("token"), col("doc_id"))
      .distinct()

  /** Posting lookup for `terms` through the pruned read path: parts
    * outside every term's range are never listed. */
  def termLookup(spark: org.apache.spark.sql.SparkSession,
                 storeDir: String, terms: Seq[String]): DataFrame =
    graft.sources.Compact.readPruned(spark, storeDir,
      Seq(graft.sources.Compact.PartIn("token", terms)), TermIndexOptions)

  /** SCORED postings for a retrieval index: one row per
    * (token, doc_id) carrying the term frequency, the document
    * length, AND the token's sorted 0-based POSITIONS in the
    * document — everything BM25 needs plus the positional payload
    * phrase/proximity search needs, so queries never touch the raw
    * corpus. Positions index the raw token sequence (empty tokens
    * hold their slot but post no row), so adjacency over positions
    * equals adjacency in the original text. Parquet is columnar:
    * a BM25 scan that never selects `positions` reads none of its
    * bytes. Same tokenization as [[indexPostings]]. */
  def indexPostingsScored(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          analyzer: Analyzer = Analyzer.identity): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        analyzer.tokensOf(col(textCol)).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"),
        posexplode(col("__toks")).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Proximity (NEAR) retrieval through a [[buildTextIndex]]
    * artifact: documents where `termA` and `termB` occur within
    * `window` token positions of each other, with the minimum
    * observed distance — the second positional primitive after
    * quoted phrases. One aggregate over the two terms' token-range-
    * pruned postings; the distance matrix is a per-document
    * tf_A × tf_B lambda over the STAGED position arrays (attribute
    * references, so nothing re-evaluates per element), never a
    * positional self-join. Returns (doc_id, min_dist),
    * min_dist ≤ window. */
  def proximityLookup(spark: org.apache.spark.sql.SparkSession,
                      path0: String, termA0: String, termB0: String,
                      window: Int): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    val (termA, termB) = (an(Seq(termA0)), an(Seq(termB0))) match {
      case (Seq(a), Seq(b)) => (a, b)
      case _ => throw new IllegalArgumentException(
        "NEAR terms must survive the index analyzer (not stopwords)")
    }
    require(termA != termB, "NEAR needs two distinct terms")
    require(window >= 1, "window must be >= 1")
    val post = graft.sources.Compact.readPruned(spark, s"$path/postings",
        Seq(graft.sources.Compact.PartIn("token", Seq(termA, termB))),
        TermIndexOptions)
      .select(col("doc_id"), col("token"), col("positions"))
    post.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("token"), col("positions")))).as("__pm"))
      .filter(size(col("__pm")) === 2)
      .select(col("doc_id"),
        col("__pm").getItem(termA).as("__pa"),
        col("__pm").getItem(termB).as("__pb"))
      .withColumn("min_dist",
        array_min(flatten(transform(col("__pa"),
          x => transform(col("__pb"), y => abs(x - y))))).cast("long"))
      .filter(col("min_dist") <= window)
      .select(col("doc_id"), col("min_dist"))
  }

  /** Quoted-PHRASE retrieval through a [[buildTextIndex]] artifact:
    * documents where `terms` appear consecutively, with the
    * occurrence count. Reads only the phrase terms' token ranges
    * (pruned postings); the adjacency check is a per-document
    * position-set intersection — ONE aggregate collecting each term's
    * position array, then a start position p survives iff term i sits
    * at p+i for every i. No positional self-join chain: the join
    * count is zero and the shuffle carries only the phrase terms'
    * postings. Each term's positions stage as a real column before
    * entering the lambda (the subtree-in-lambda re-evaluation trap).
    * A single-term "phrase" degenerates to that term's tf. Returns
    * (doc_id, n_hits). */
  def phraseLookup(spark: org.apache.spark.sql.SparkSession,
                   path0: String, terms0: Seq[String]): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    // stopwords drop from the phrase (positions index the analyzed
    // sequence, so the surviving terms' adjacency stays exact)
    val terms = an(terms0)
    require(terms.nonEmpty, "need at least one (non-stopword) phrase term")
    val distinct = terms.distinct
    val post = graft.sources.Compact.readPruned(spark, s"$path/postings",
        Seq(graft.sources.Compact.PartIn("token", distinct)),
        TermIndexOptions)
      .select(col("doc_id"), col("token"), col("positions"))
    val perDoc = post.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("token"), col("positions")))).as("__pm"))
      .filter(size(col("__pm")) === distinct.size) // every term present
    val staged = perDoc.select(col("doc_id") +:
      distinct.zipWithIndex.map { case (t, i) =>
        col("__pm").getItem(t).as(s"__p$i")
      }: _*)
    val slot = distinct.zipWithIndex.toMap
    val starts = filter(col(s"__p${slot(terms.head)}"),
      p => terms.zipWithIndex.drop(1)
        .map { case (t, i) => array_contains(col(s"__p${slot(t)}"), p + lit(i)) }
        .foldLeft(lit(true))(_ && _))
    staged.withColumn("n_hits", size(starts).cast("long"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_hits"))
  }

  /** The corpus-stats store of a text index: a `sumOn` aggregating
    * store over a constant key — N and the total token count are
    * ADDITIVE, so every appended batch contributes one partial row
    * and readers/merges fold partials to the true corpus totals.
    * This is what makes index maintenance incremental: appending a
    * day's documents appends one tiny stats row instead of
    * re-scanning the whole corpus to refresh N/avgdl. */
  val TextStatsOptions: graft.sources.Compact.Options =
    graft.sources.Compact.Options(sumOn = Seq("k"))

  /** One row per document: (doc_id, dl) — the per-doc token count
    * the index needs INDEPENDENTLY of postings, because a document
    * whose tokens are all empty posts no postings row yet still
    * counts in N/avgdl (statsRow counts every doc). Deletion reads
    * this table to subtract a doc's exact stats contribution; it is
    * also the norms-table shape a scorer needing per-doc priors would
    * extend. Tombstone-aware on read like every Compact store, so a
    * second delete of the same doc finds no row and is
    * stats-neutral. */
  private def docLens(docs: DataFrame, idCol: String, textCol: String,
                      analyzer: Analyzer = Analyzer.identity): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(analyzer.tokensOf(col(textCol))).cast("long").as("dl"))

  /** One batch's partial corpus-stats row (k=0, n, tot). */
  private def statsRow(docs: DataFrame, textCol: String,
                       analyzer: Analyzer = Analyzer.identity): DataFrame =
    docs.select(analyzer.tokensOf(col(textCol)).as("__toks"))
      .agg(count(lit(1)).as("n"),
        sum(size(col("__toks")).cast("long")).as("tot"))
      .select(lit(0L).as("k"), col("n"), col("tot"))

  /** The folded corpus stats of a text index: one row (n, tot),
    * summed across every appended batch on read. */
  def readTextStats(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    graft.sources.Compact.read(spark,
        s"${IndexGen.resolveRoot(spark, path)}/stats", TextStatsOptions)
      .select(col("n"), col("tot"))

  /** Build a BM25-servable text index at `path`: scored postings as a
    * token-range-clustered store (`path`/postings — the
    * [[TermIndexOptions]] layout, so a term's lookup lists only the
    * parts whose token range can hold it) plus the corpus stats
    * (`path`/stats: N, total token count) an index must carry —
    * recomputing N/avgdl at query time would re-scan the corpus the
    * index exists to avoid. A rebuild: both stores start empty, then
    * the corpus lands as the first batch via [[appendToTextIndex]] —
    * build and build+append produce the SAME folded index. */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String,
                     analyzer: Analyzer = Analyzer.identity): Unit = {
    val spark = docs.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("postings", "stats", "doclens", "analyzer").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(root, d)
      if (fs.exists(p)) fs.delete(p, true): Unit
    }
    // the analyzer config lands FIRST (appends and queries read it
    // from the index, so build/append/query can never disagree);
    // identity writes nothing — pre-analyzer artifacts stay
    // byte-identical
    if (!analyzer.isIdentity) {
      import spark.implicits._
      Seq((analyzer.lowercase, analyzer.stopwords, analyzer.stemmer))
        .toDF("lowercase", "stopwords", "stemmer")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/analyzer")
    }
    // the build batch lives in its OWN name space: a streaming
    // appender's batchId 0 must never collide with the build's
    // idempotence marker (it would silently skip the first
    // micro-batch)
    appendToTextIndex(docs, idCol, textCol, path, "build-000000000",
      compact = true): Unit
  }

  /** [[buildTextIndex]] as an ATOMIC REBUILD of an existing index:
    * the fresh artifact lands as a new generation under `path/gen=N/`
    * and becomes visible through one marker create
    * ([[IndexGen.commitNewGeneration]]) — searches concurrent with
    * the rebuild read old XOR new, a crash mid-rebuild leaves the old
    * generation serving. The text twin of
    * [[Similarity.retrain]]. Returns the committed generation. */
  def rebuildTextIndex(docs: DataFrame, idCol: String, textCol: String,
                       path: String,
                       analyzer: Analyzer = Analyzer.identity): Long =
    IndexGen.commitNewGeneration(docs.sparkSession, path)(dir =>
      buildTextIndex(docs, idCol, textCol, dir, analyzer))

  /** INCREMENTAL index maintenance: append one batch of documents to
    * an existing [[buildTextIndex]] artifact. Postings append through
    * the marker-idempotent batch machinery (a replayed batch is a
    * no-op even after compaction folded its file), and the stats
    * store gains one additive partial row, so N/avgdl fold to the
    * full-corpus values on read — NO full-corpus rescan, ever. The
    * appended index serves [[bm25IndexedTopK]]/[[termLookupAll]]
    * identically to a full rebuild over the union corpus (postings
    * rows and folded stats are equal by construction). `compact`
    * folds both stores after the append (re-clustering postings by
    * token range); leave it false on the ingest hot path and fold
    * accumulated batches periodically, the L0 story of every store
    * here. Returns (postingsApplied, statsApplied) — (false, false)
    * is a full replay. */
  def appendToTextIndex(docs: DataFrame, idCol: String, textCol: String,
                        path0: String, name: String,
                        compact: Boolean = false): (Boolean, Boolean) = {
    val spark = docs.sparkSession
    // maintenance lands in the committed generation, analyzed exactly
    // as that generation's build was
    val (path, an) = resolvedIndex(spark, path0)
    val p = graft.sources.Store.atomicAppendOnce(
      indexPostingsScored(docs, idCol, textCol, an), s"$path/postings", name)
    val s = graft.sources.Store.atomicAppendOnce(
      statsRow(docs, textCol, an), s"$path/stats", name)
    // the per-doc length table rides the same marker discipline; its
    // replay no-op is silent (the returned pair keeps its shape)
    graft.sources.Store.atomicAppendOnce(
      docLens(docs, idCol, textCol, an), s"$path/doclens", name): Unit
    if (compact) {
      graft.sources.Compact.run(spark, s"$path/postings", TermIndexOptions): Unit
      graft.sources.Compact.run(spark, s"$path/stats", TextStatsOptions): Unit
      graft.sources.Compact.run(spark, s"$path/doclens"): Unit
    }
    (p, s)
  }

  /** DELETION from a text index — the erasure path the events store
    * has, extended to the retrieval artifact: `ids` (one column,
    * any name, coerced to doc_id) stop matching every lookup
    * immediately and the corpus stats fold back to the surviving
    * corpus's exact N/avgdl, so BM25 over the deleted index equals a
    * REBUILD over the filtered corpus (pinned in tests and oracled).
    *
    * Mechanics: one NEGATIVE stats row (−n, −tot from the doclens
    * table — exact even for docs that posted no postings row) lands
    * marker-idempotently FIRST, then postings and doclens gain
    * tombstones ([[graft.sources.Compact.deleteKeys]]) that every
    * read path already anti-joins ([[termLookup]]/[[termLookupAll]]/
    * [[phraseLookup]]/[[proximityLookup]]/[[bm25IndexedTopK]] all go
    * through the tombstone-aware pruned reader). Ordering makes the
    * crash windows converge: a replay skips the stats delta on its
    * marker and re-appends tombstones idempotently; deleting an
    * already-deleted (or absent) doc contributes a zero delta because
    * the doclens read is itself tombstone-aware. O(ids) + one doclens
    * scan; bytes are reclaimed by the stores' purge. Reinsertion of a
    * deleted doc_id needs a purge first, as in every tombstoned
    * store. */
  def deleteFromTextIndex(spark: org.apache.spark.sql.SparkSession,
                          path0: String, ids: DataFrame,
                          name: String): Unit = {
    val path = IndexGen.resolveRoot(spark, path0)
    require(ids.columns.length == 1,
      "text-index delete ids must be a single-column frame")
    val keys = ids.distinct().toDF("doc_id")
    val delta = graft.sources.Compact.read(spark, s"$path/doclens")
      .join(keys, Seq("doc_id"))
      .agg(count(lit(1)).as("__n"), sum(col("dl")).as("__tot"))
      .select(lit(0L).as("k"), (-col("__n")).cast("long").as("n"),
        (-coalesce(col("__tot"), lit(0L))).cast("long").as("tot"))
    graft.sources.Store.atomicAppendOnce(delta, s"$path/stats",
      s"del-$name"): Unit
    graft.sources.Compact.deleteKeys(spark, s"$path/postings", keys, name)
    graft.sources.Compact.deleteKeys(spark, s"$path/doclens", keys, name)
  }

  /** PHYSICAL erasure for a text index: rewrite postings and doclens
    * minus their tombstoned docs (each store's crash-safe purge —
    * row accounting validated before every commit), after which the
    * deleted doc_ids are reinsertable. The stats store is deliberately
    * untouched: its negative delta rows ARE the durable record of the
    * deletion — an additive store erases by subtraction, not
    * rewrite — so folded N/avgdl stay exact across any
    * delete/purge/append interleaving. */
  def purgeTextIndex(spark: org.apache.spark.sql.SparkSession,
                     path0: String): Unit = {
    val path = IndexGen.resolveRoot(spark, path0)
    graft.sources.Compact.purge(spark, s"$path/postings", TermIndexOptions): Unit
    graft.sources.Compact.purge(spark, s"$path/doclens"): Unit
  }

  /** Conjunctive (AND) retrieval through a [[buildTextIndex]]
    * artifact: documents containing EVERY query term, with their
    * summed term frequency — the boolean-retrieval primitive under
    * phrase/filter search. Reads only the query terms' token ranges
    * (pruned postings lookup); the intersection is one
    * map-side-combined aggregate over those postings, never a
    * per-term join chain. */
  def termLookupAll(spark: org.apache.spark.sql.SparkSession,
                    path0: String, terms0: Seq[String]): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    val terms = an(terms0)
    require(terms.nonEmpty, "need at least one (non-stopword) term")
    graft.sources.Compact.readPruned(spark, s"$path/postings",
        Seq(graft.sources.Compact.PartIn("token", terms)), TermIndexOptions)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("__hits"),
        sum(col("tf")).as("total_tf"))
      .filter(col("__hits") === terms.distinct.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** SNIPPET extraction through a [[buildTextIndex]] artifact: per
    * matching document, the best `width`-token window for the query —
    * most DISTINCT query terms inside, then most total occurrences,
    * then the earliest start — the highlight/passage-locator pass of
    * a search result page (and of extraction pipelines that need the
    * span, not the score). An optimal window starts AT some query-term
    * occurrence, so candidates are exactly the terms' positions: one
    * equi-join on doc_id over the pruned postings' exploded positions
    * with the range check as a residual — work is bounded by
    * query-term OCCURRENCES (never document length), and the raw
    * corpus is untouched. Positions index the raw token sequence
    * (empties hold their slot), so `snippet_start` addresses the
    * original text. Returns (doc_id, snippet_start, terms_in_window,
    * occs_in_window).
    *
    * `restrictTo` (a one-column doc-id frame) bounds the computation
    * to those documents — the PAGE-RESTRICTED serving form: a result
    * page needs snippets for its ranked hits only, and without the
    * restriction the window self-join grows with CORPUS occurrences
    * (measured exponent 0.72 at a 5× soak), which is extraction-
    * pipeline cost, not serving cost. The semi-join lands before the
    * self-join, so the quadratic-ish window stage is page-bounded. */
  def snippetWindow(spark: org.apache.spark.sql.SparkSession,
                    path0: String, terms0: Seq[String],
                    width: Int,
                    restrictTo: Option[DataFrame] = None): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    val terms = an(terms0)
    require(terms.nonEmpty && width >= 1,
      "need (non-stopword) terms and width >= 1")
    val occ0 = graft.sources.Compact.readPruned(spark, s"$path/postings",
        Seq(graft.sources.Compact.PartIn("token", terms.distinct)),
        TermIndexOptions)
      .select(col("doc_id"), col("token"),
        explode(col("positions")).as("pos"))
    val occ = restrictTo match {
      case Some(ds) => occ0.join(
        ds.select(col(ds.columns.head).as("doc_id")), Seq("doc_id"),
        "left_semi")
      case None => occ0
    }
    // the window starts carry their doc id under their own name, so
    // the self-join condition is a real doc-id equality by construction
    val starts = occ.select(col("doc_id").as("s_doc"), col("pos").as("p")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("terms_in_window").desc, col("occs_in_window").desc,
        col("p").asc)
    starts.join(occ,
        col("s_doc") === col("doc_id") &&
          col("pos") >= col("p") && col("pos") < col("p") + width)
      .select(col("s_doc").as("doc_id"), col("p"), col("token"))
      .groupBy(col("doc_id"), col("p"))
      .agg(countDistinct(col("token")).as("terms_in_window"),
        count(lit(1)).as("occs_in_window"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("p").cast("long").as("snippet_start"),
        col("terms_in_window"), col("occs_in_window"))
  }

  /** Conjunctive retrieval WITH EXCLUSIONS through a
    * [[buildTextIndex]] artifact: documents containing every `must`
    * term and none of the `mustNot` terms — the AND-NOT boolean
    * primitive. Both sides read only their terms' token-range-pruned
    * postings; the exclusion is one anti-join against the NOT terms'
    * matched doc set (a document with no NOT posting never ships a
    * row, so the anti-join is exclusion-sized, not corpus-sized). */
  def termLookupAllNot(spark: org.apache.spark.sql.SparkSession,
                       path0: String, must: Seq[String],
                       mustNot0: Seq[String]): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    val mustNot = an(mustNot0)
    require(mustNot.nonEmpty,
      "use termLookupAll without (non-stopword) exclusions")
    termLookupAll(spark, path, must)
      .join(termLookup(spark, s"$path/postings", mustNot.distinct)
        .select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
  }

  /** WEIGHTED-term retrieval through a [[buildTextIndex]] artifact —
    * the sparse-vector serving primitive (a learned-sparse or
    * query-expansion model emits per-term weights; SPLADE-class
    * scoring is exactly `score(d) = Σ_t w(t)·tf(t,d)`): one
    * map-side-combined aggregate over the query terms' token-range-
    * pruned postings, never a per-term join chain and never the raw
    * corpus. Weights are CALLER-QUANTIZED integer micro-units, so the
    * score is long addition — associative, partition-order-free, and
    * replayable by a SQL oracle digit for digit. Duplicate terms in
    * `weights` are rejected rather than silently summed. Returns
    * (doc_id, score_micro, terms_hit, rank), rank 1-based by
    * (score DESC, doc_id ASC), at most `topK` rows; documents whose
    * matched weights cancel to ≤ 0 still rank (a negative-weight
    * term is a soft demotion, not a filter). */
  def weightedTermTopK(spark: org.apache.spark.sql.SparkSession,
                       path0: String, weights0: Seq[(String, Long)],
                       topK: Int): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    // term analysis keyed per weight (stopword terms drop with their
    // weight); duplicates created by case-folding fail loudly in
    // weightedScore rather than silently double-counting
    val weights = weights0.flatMap { case (t, w) => an(Seq(t)).map(_ -> w) }
    require(weights.nonEmpty && topK > 0,
      "need (non-stopword) weighted terms and topK > 0")
    weightedScore(graft.sources.Compact.readPruned(spark, s"$path/postings",
      Seq(graft.sources.Compact.PartIn("token", weights.map(_._1))),
      TermIndexOptions), weights, topK)
  }

  /** [[weightedTermTopK]] over the RAW corpus — the index-free twin
    * (bm25TopK's relationship to bm25IndexedTopK): one explode →
    * filter-to-weighted-terms → map-side-combined tf shuffle, then
    * the identical integer scoring, so the two forms share one
    * oracle. The request layer serves this form when no index
    * artifact is staged. */
  def weightedTermTopKScan(docs: DataFrame, idCol: String, textCol: String,
                           weights: Seq[(String, Long)],
                           topK: Int): DataFrame = {
    require(weights.nonEmpty && topK > 0, "need weighted terms and topK > 0")
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token").isin(weights.map(_._1): _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    weightedScore(tf, weights, topK)
  }

  /** The shared weighted-scoring tail over a (doc_id, token, tf)
    * frame: integer micro-weight sums (long addition — associative,
    * partition-order-free), rank by (score DESC, doc_id ASC). */
  private def weightedScore(tf: DataFrame, weights: Seq[(String, Long)],
                            topK: Int): DataFrame = {
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate terms in the weight list")
    val wcol = weights.tail.foldLeft(
      when(col("token") === weights.head._1, lit(weights.head._2))) {
      case (acc, (t, w)) => acc.when(col("token") === t, lit(w))
    }
    val scored = tf.withColumn("__w", wcol)
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("__w")).as("score_micro"),
        count(lit(1)).as("terms_hit"))
    graft.engine.Dictionary.rankTopK(scored,
      Seq(col("score_micro").desc, col("doc_id").asc), topK)
  }

  /** PASSAGE retrieval — the RAG pattern: documents chunk into
    * `windowTokens` windows with `strideTokens` overlap
    * ([[chunkDocuments]] — join/split round-trips tokens exactly),
    * BM25 scores the CHUNK corpus (chunk-level N/avgdl/df, so a long
    * document cannot drown a locally-relevant passage), the top
    * `passageK` passages pool max-per-document (ties to the lowest
    * chunk), and documents rank by their best passage. The composite
    * pid = id·1e6 + chunk_idx keeps every tie-break exact integer
    * math on both engines, which requires a NUMERIC `idCol` with
    * |id| < ~9e12 and fewer than 1e6 chunks per document; negative
    * ids are supported — recovery uses pmod, so chunk_idx stays in
    * [0, 1e6) and the floor-division recovers the signed doc id
    * exactly. Returns (idCol, best_chunk_idx, best_micro, rank),
    * rank 1-based, ≤ `topK` rows. */
  def passageTopK(docs: DataFrame, idCol: String, textCol: String,
                  queryTerms: Seq[String], windowTokens: Int = 32,
                  strideTokens: Int = 16, passageK: Int = 100,
                  topK: Int = 10, k1: Double = 1.2,
                  b: Double = 0.75): DataFrame = {
    val chunks = chunkDocuments(
        docs.select(col(idCol), col(textCol)), textCol,
        windowTokens, strideTokens)
      .select((col(idCol) * 1000000L + col("chunk_idx")).as("pid"),
        col("chunk_text"))
    val passages = bm25TopK(chunks, "pid", "chunk_text", queryTerms,
      passageK, k1, b)
    poolPassages(passages, idCol, topK)
  }

  /** The shared passage-pooling tail over BM25-scored chunk rows
    * (`pid`, bm25_micro): recover (doc, chunk) from the composite
    * pid, max-pool per document (ties to the lowest chunk), rank
    * documents by best passage. */
  private def poolPassages(passages: DataFrame, idCol: String,
                           topK: Int): DataFrame = {
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("bm25_micro").desc, col("chunk_idx").asc)
    val pooled = passages
      // pmod, not %: a negative doc id makes pid negative, and a
      // negative remainder would corrupt BOTH the recovered chunk_idx
      // and the doc id below. pmod keeps chunk in [0, 1e6) always.
      .withColumn("chunk_idx", pmod(col("pid"), lit(1000000L)))
      // pid minus its chunk is an exact multiple of 1e6: the double
      // division is exact, no boundary rounding
      .withColumn(idCol,
        ((col("pid") - col("chunk_idx")) / lit(1000000L)).cast("long"))
      .withColumn("__rn", row_number().over(perDoc))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("chunk_idx").as("best_chunk_idx"),
        col("bm25_micro").as("best_micro"))
    graft.engine.Dictionary.rankTopK(pooled,
      Seq(col("best_micro").desc, col(idCol).asc), topK)
  }

  /** Build a PERSISTED passage index: the corpus chunked
    * ([[chunkDocuments]], composite pid = id·1e6 + chunk_idx) and
    * indexed as a [[buildTextIndex]] artifact over the CHUNK corpus —
    * chunk-level postings and stats, so [[passageTopKIndexed]] serves
    * the exact [[passageTopK]] semantics from token-range-pruned
    * postings without ever rescanning (or re-chunking) the raw
    * corpus. Same numeric-id bounds as passageTopK. */
  def buildPassageIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String, windowTokens: Int = 32,
                        strideTokens: Int = 16,
                        analyzer: Analyzer = Analyzer.identity): Unit = {
    val chunks = chunkDocuments(
        docs.select(col(idCol), col(textCol)), textCol,
        windowTokens, strideTokens)
      .select((col(idCol) * 1000000L + col("chunk_idx")).as("pid"),
        col("chunk_text"))
    buildTextIndex(chunks, "pid", "chunk_text", path, analyzer)
    // chunking knobs persisted with the artifact (pq_meta's contract):
    // they are BUILD-time properties, so a serving layer can validate
    // a request's description of the index instead of trusting it —
    // and can tell a passage artifact from a plain text index at all
    locally {
      import docs.sparkSession.implicits._
      Seq((windowTokens, strideTokens)).toDF("window", "stride")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/passage_meta")
    }
  }

  /** The persisted chunking knobs (window, stride) of a passage
    * artifact — None for a plain text index or a pre-meta passage
    * build. `root` must be a RESOLVED generation root. */
  def readPassageMeta(spark: org.apache.spark.sql.SparkSession,
                      root: String): Option[(Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/passage_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val r = spark.read.parquet(p.toString)
        .select(col("window"), col("stride")).head()
      Some((r.getInt(0), r.getInt(1)))
    }
  }

  /** [[passageTopK]] served FROM a [[buildPassageIndex]] artifact:
    * chunk-level BM25 through the pruned postings (only the query
    * terms' token ranges are read; stats fold across appends), then
    * the shared max-pool-per-document tail — identical results to the
    * scan form over the same chunking, so the two share one oracle
    * (bm25TopK : bm25IndexedTopK :: passageTopK : this). Chunking is
    * paid ONCE at build; at 100 TB the raw corpus is never touched at
    * query time. */
  def passageTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                         path: String, idCol: String,
                         queryTerms: Seq[String], passageK: Int = 100,
                         topK: Int = 10, k1: Double = 1.2,
                         b: Double = 0.75): DataFrame =
    poolPassages(
      bm25IndexedTopK(spark, path, queryTerms, passageK, k1, b)
        .withColumnRenamed("doc_id", "pid"),
      idCol, topK)

  /** BM25 top-k SERVED ENTIRELY FROM a [[buildTextIndex]] artifact:
    * the pruned postings lookup reads only the query terms' token
    * ranges, df comes from the looked-up postings, N/avgdl from the
    * persisted stats row — the raw corpus is never scanned. Identical
    * arithmetic (and results) to [[bm25TopK]] over the indexed
    * corpus. */
  def bm25IndexedTopK(spark: org.apache.spark.sql.SparkSession,
                      path0: String, queryTerms0: Seq[String], topK: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    val queryTerms = an(queryTerms0)
    require(queryTerms.nonEmpty && topK > 0,
      "need (non-stopword) query terms and topK > 0")
    val post = graft.sources.Compact.readPruned(spark, s"$path/postings",
      Seq(graft.sources.Compact.PartIn("token", queryTerms)),
      TermIndexOptions)
    // stats fold across appended batches on read (sumOn store): the
    // indexed score is computed against FULL-corpus N/avgdl no matter
    // how many incremental appends the index has absorbed
    val stats = readTextStats(spark, path)
    val idf = post.groupBy(col("token"))
      .agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(stats.select(col("n").as("__n"))))
      .withColumn("idf_micro",
        floor(log((col("__n") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0)) * 1e6).cast("long"))
      .select(col("token"), col("idf_micro"))
    val scored = post.join(broadcast(idf), "token")
      .crossJoin(broadcast(
        stats.select(col("n").as("__n"), col("tot").as("__tot"))))
      .withColumn("__avgdl",
        col("__tot").cast("double") / col("__n").cast("double"))
      .withColumn("__contrib", floor(
        col("idf_micro").cast("double") *
          (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              (lit(b) * col("dl").cast("double")) / col("__avgdl")))
      ).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__contrib")).as("bm25_micro"),
        count(lit(1)).as("terms_hit"))
    graft.engine.Dictionary.rankTopK(scored,
      Seq(col("bm25_micro").desc, col("doc_id").asc), topK)
  }

  /** BATCHED BM25 — many queries served in ONE pass over the index,
    * the bulk-serving shape (eval sets, hard-negative mining,
    * training-data retrieval run thousands of queries; per-query
    * round trips would re-read shared postings): the postings read
    * prunes to the UNION of all query terms once, the tiny
    * (query, term) table broadcasts and fans each posting out to the
    * queries containing its term, idf/stats compute once (df is
    * per-token, query-independent, so each query's scores are
    * IDENTICAL to its solo [[bm25IndexedTopK]] run — pinned by the
    * oracle), and the per-query top-k is a rank window PARTITIONED by
    * query (WindowGroupLimit, never a global sort). Returns
    * (query_id, doc_id, bm25_micro, terms_hit, rank ≤ topK). */
  def bm25IndexedTopKBatch(spark: org.apache.spark.sql.SparkSession,
                           path0: String, queries0: Seq[(Long, Seq[String])],
                           topK: Int, k1: Double = 1.2,
                           b: Double = 0.75): DataFrame = {
    val (path, an) = resolvedIndex(spark, path0)
    val queries = queries0.map { case (qid, ts) => (qid, an(ts)) }
    require(queries.nonEmpty && topK > 0, "need queries and topK > 0")
    require(queries.forall(_._2.nonEmpty),
      "every query needs (non-stopword) terms")
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val post = graft.sources.Compact.readPruned(spark, s"$path/postings",
      Seq(graft.sources.Compact.PartIn("token", allTerms)), TermIndexOptions)
    val stats = readTextStats(spark, path)
    val qt = queries.flatMap { case (qid, ts) =>
      ts.distinct.map(t => (qid, t))
    }.toDF("query_id", "token")
    val idf = post.groupBy(col("token"))
      .agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(stats.select(col("n").as("__n"))))
      .withColumn("idf_micro",
        floor(log((col("__n") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0)) * 1e6).cast("long"))
      .select(col("token"), col("idf_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id").asc)
    post.join(broadcast(qt), Seq("token"))
      .join(broadcast(idf), Seq("token"))
      .crossJoin(broadcast(
        stats.select(col("n").as("__n"), col("tot").as("__tot"))))
      .withColumn("__avgdl",
        col("__tot").cast("double") / col("__n").cast("double"))
      .withColumn("__contrib", floor(
        col("idf_micro").cast("double") *
          (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              (lit(b) * col("dl").cast("double")) / col("__avgdl")))
      ).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__contrib")).as("bm25_micro"),
        count(lit(1)).as("terms_hit"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** BM25-scored retrieval (Okapi, Lucene idf variant): per matching
    * document, `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * over the query terms it contains, with
    * `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)`.
    *
    * Engine-portable like [[withLmScore]]/[[topTfidfTerms]]: the idf
    * is pre-quantized to micro-nat longs, each term's CONTRIBUTION is
    * floored to a long before summing (a raw double sum is
    * partition-order-dependent; long addition is associative, so
    * `bm25_micro` is bit-stable across engines and partitionings),
    * and N/avgdl come from an IN-ENGINE one-row aggregate on both
    * sides — never a driver-rounded literal.
    *
    * Shape for scale: explode→filter-to-query-terms→tf is one
    * map-side-combined shuffle of only the matching (doc, term) rows;
    * the per-term df/idf table is |terms| rows (broadcast); the stats
    * row is a crossJoined 1-row broadcast. At index scale, feed the
    * candidate doc set from [[termLookup]] (token-range-pruned
    * postings) and score only those documents.
    *
    * Returns (idCol, bm25_micro, terms_hit, rank) — rank 1-based by
    * (bm25_micro DESC, id ASC), at most `topK` rows. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms0: Seq[String], topK: Int,
               k1: Double = 1.2, b: Double = 0.75,
               analyzer: Analyzer = Analyzer.identity): DataFrame = {
    val queryTerms = analyzer(queryTerms0)
    require(queryTerms.nonEmpty && topK > 0,
      "need (non-stopword) query terms and topK > 0")
    val toks = docs.select(col(idCol),
        analyzer.tokensOf(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    // one-row corpus stats, computed in-engine on BOTH sides of the
    // oracle: avgdl = sum(dl)/N as one double division of exact longs
    val stats = toks.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__tot"))
    val tf = toks
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(stats.select(col("__n"))))
      .withColumn("idf_micro",
        floor(log((col("__n") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0)) * 1e6).cast("long"))
      .select(col("token"), col("idf_micro"))
    val scored = tf.join(broadcast(idf), "token")
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("__tot").cast("double") / col("__n").cast("double"))
      // identical parenthesization to the oracle SQL: every
      // sub-expression is the same IEEE op on the same doubles
      .withColumn("__contrib", floor(
        col("idf_micro").cast("double") *
          (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              (lit(b) * col("__dl").cast("double")) / col("__avgdl")))
      ).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("bm25_micro"),
        count(lit(1)).as("terms_hit"))
    graft.engine.Dictionary.rankTopK(scored,
      Seq(col("bm25_micro").desc, col(idCol).asc), topK)
  }
}
