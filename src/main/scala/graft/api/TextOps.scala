package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashing

/** User-facing text-pipeline API: every operator is a pure
  * DataFrame → DataFrame function over caller-named columns, so any
  * corpus — not just the bundled `documents` table — can run the
  * pipeline. The catalog queries (q16–q19, q38, q44) are thin wrappers
  * over these, which keeps them under the DuckDB oracle gate; all
  * scale notes on those queries apply unchanged (each op here is
  * map-only and whole-stage-codegen friendly).
  */
object TextOps {

  /** Non-overlapping occurrence count of literal `w` (LTR, same as
    * DuckDB replace-length arithmetic).
    */
  def occurrences(c: Column, w: String): Column =
    ((length(c) - length(replace(c, lit(w), lit("")))) / lit(w.length))
      .cast("long")

  /** BPE-style pre-tokenizer pattern: letter runs, digit runs, and runs
    * of other non-space symbols — the coarse segmentation a byte-pair
    * tokenizer refines. Restricted to character classes RE2 (DuckDB)
    * and java.util.regex (Spark) treat identically, so counts are
    * engine-exact.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

  /** Token + char counts: whitespace tokens, BPE-ish regex tokens
    * ([[BpeTokenPattern]]), char length. Output: idCol, n_tokens,
    * n_tokens_re, text_len. Map-only.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(split(col(textCol), " ", -1)).cast("long").as("n_tokens"),
      size(regexp_extract_all(col(textCol), lit(BpeTokenPattern), lit(0)))
        .cast("long").as("n_tokens_re"),
      length(col(textCol)).cast("long").as("text_len"))

  /** Integer fixed-point quality score + bucket. Output: idCol,
    * `keep` columns passed through unchanged, n_tok, tok_len_x1000,
    * stop_x1000, quality. ONE formula serves q17, q109's curriculum
    * tiers and [[datasetCard]]'s composition axis — `keep` exists so
    * rollup consumers carry their grouping columns through the same
    * map-only pass instead of re-deriving (and possibly drifting) the
    * bucket rule.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
      stopword: String = " the ", keep: Seq[String] = Nil): DataFrame = {
    // a keep column shadowing an internal/output name would emit
    // duplicate columns and fail downstream with a raw
    // ambiguous-reference error — fail by name instead
    val reserved =
      Set("n_char", "n_tok", "n_stop", "tok_len_x1000", "stop_x1000",
        "quality") ++ Set(idCol)
    val clash = keep.filter(reserved.contains)
    require(clash.isEmpty,
      s"qualityScore: keep column(s) ${clash.mkString(", ")} collide " +
        "with the op's internal/output columns — rename before passing")
    val kept = keep.map(col)
    df.select(col(idCol) +: kept ++: Seq(
        length(col(textCol)).cast("long").as("n_char"),
        size(split(col(textCol), " ", -1)).cast("long").as("n_tok"),
        occurrences(col(textCol), stopword).as("n_stop")): _*)
      .select(col(idCol) +: kept ++: Seq(col("n_tok"),
        expr("((n_char - (n_tok - 1)) * 1000) div n_tok").as("tok_len_x1000"),
        expr("(n_stop * 1000) div n_tok").as("stop_x1000"),
        when(col("n_tok") >= 40 &&
            expr("(n_stop * 1000) div n_tok") >= 20, "high")
          .when(col("n_tok") >= 15, "medium")
          .otherwise("low").as("quality")): _*)
  }

  /** Dataset-card composition report — the drill-down a training-data
    * release documents (and the dashboard a curation run is judged
    * by): doc and token counts per (source, lang, quality-bucket)
    * with ROLLUP subtotals at every level and each group's token
    * share of the whole corpus in exact ppm. The quality axis is
    * [[qualityScore]]'s bucket — the SAME formula the curriculum
    * orderer (q109) and the quality gate (q17) use, carried through
    * via `keep`, so the card cannot disagree with the pipeline it
    * describes.
    *
    * Shape at 100 TB: one map-only scoring pass, ONE Expand + hash
    * aggregate for all four grouping levels (partial+final — the
    * q32 grouping-sets surface), and a 1-row total broadcast. The
    * ppm share multiplies in decimal(38,0) — Long×1e6 would wrap
    * past ~9.2e12 tokens, i.e. mid-double-digit-TB corpora; 128-bit
    * keeps the arithmetic exact at any real corpus size (DuckDB
    * replays it in HUGEINT). Output: sourceCol, langCol, quality
    * (subtotal rows render '(all)'), n_docs, n_tokens, tok_ppm.
    */
  def datasetCard(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String,
      stopword: String = " the "): DataFrame = {
    // the rollup's own grand-total row IS the corpus total. The
    // rolled frame is consumed twice (card rows + the broadcast
    // total), so it localCheckpoints — the q93/q137 consumed-twice
    // discipline: without the eager cut, Catalyst pushes the
    // grand-row filter BELOW the final aggregate into its own Expand
    // branch (breaking exchange reuse) and the corpus is scanned and
    // re-tokenized twice; the checkpoint pins the one corpus pass
    // and both consumers read group-count rows (PlanSpec pins the
    // pre-checkpoint pass shape AND that the final plan contains no
    // corpus scan).
    renderCard(datasetCardRolled(df, idCol, textCol, sourceCol,
      langCol, stopword), sourceCol, langCol)
  }

  /** The card's render half — grouping markers to '(all)' labels plus
    * the exact-ppm share off the rollup's own grand-total row. ONE
    * implementation behind [[datasetCard]] (rollup over per-doc rows)
    * and [[CardOps.datasetCardAgainstIndex]] (rollup over the
    * persisted index's reconciled leaf sums), so the deployed card
    * cannot render differently from the batch op it mirrors. Input:
    * any frame with (sourceCol, langCol, quality, n_docs, n_tokens,
    * _gs, _gl, _gq); it is consumed twice (card rows + the broadcast
    * total), hence the eager checkpoint — see [[datasetCard]]'s
    * consumed-twice note.
    */
  private[graft] def renderCard(rolledRaw: DataFrame, sourceCol: String,
      langCol: String): DataFrame = {
    val rolled = rolledRaw.localCheckpoint()
    val total = rolled
      .filter(col("_gs") === 1 && col("_gl") === 1 && col("_gq") === 1)
      .select(col("n_tokens").as("_tot"))
    rolled
      .crossJoin(broadcast(total))
      .select(
        when(col("_gs") === 1, lit("(all)")).otherwise(col(sourceCol))
          .as(sourceCol),
        when(col("_gl") === 1, lit("(all)")).otherwise(col(langCol))
          .as(langCol),
        when(col("_gq") === 1, lit("(all)")).otherwise(col("quality"))
          .as("quality"),
        col("n_docs"), col("n_tokens"),
        expr("(cast(n_tokens as decimal(38,0)) * 1000000) div _tot")
          .as("tok_ppm"))
  }

  /** The card's ONE corpus pass (pre-checkpoint): scoring + rollup +
    * grouping markers. Factored so PlanSpec can pin the pass's shape
    * (one Expand, one scan, one exchange) — the localCheckpoint in
    * [[datasetCard]] makes that subtree invisible in the final plan.
    */
  private[graft] def datasetCardRolled(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String, langCol: String,
      stopword: String): DataFrame = {
    // qualityScore guards its own names; the card's downstream names
    // need the same fail-by-name protection for the grouping columns
    val reserved = Set("n_docs", "n_tokens", "_gs", "_gl", "_gq",
      "_tot", "tok_ppm")
    val clash = Seq(sourceCol, langCol).filter(reserved.contains)
    require(clash.isEmpty,
      s"datasetCard: grouping column(s) ${clash.mkString(", ")} collide " +
        "with the card's output/working columns — rename before passing")
    val scored = qualityScore(df, idCol, textCol, stopword,
      keep = Seq(sourceCol, langCol))
    scored
      .rollup(col(sourceCol), col(langCol), col("quality"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        grouping(col(sourceCol)).as("_gs"), grouping(col(langCol)).as("_gl"),
        grouping(col("quality")).as("_gq"))
  }

  /** Per-document unigram token-entropy quality signal in EXACT
    * milli-bit fixed point — the distributional filter the ratio
    * heuristics ([[qualityScore]]) and within-doc duplicate-gram
    * fraction miss: a doc cycling a small vocabulary (keyword
    * stuffing, boilerplate loops, tag soup) has low entropy even when
    * no single gram repeats enough to trip the repetition filter,
    * while healthy prose sits near the corpus norm.
    *
    *   H = Σ_w (c_w / L) · log2(L / c_w)
    *
    * computed as `sum(c · lg(L, c)) div L` milli-bits with the q108
    * idf quantization scheme (ONE discipline for every log in the
    * repo): r = (L·2^20) div c ≥ 2^20, e = floor-log2(r) via
    * `length(bin(r)) - 1`, octave-linear mantissa m = r div 2^(e-10)
    * ∈ [1024, 2048), lg = (e-20)·1024 + (m-1024). All int64 and
    * monotone in L/c, so scores hash-match the DuckDB replay exactly
    * and order identically to true entropy within quantization error.
    * A single repeated token gives exactly 0; k equally-frequent
    * tokens with k a power of two give exactly 1024·log2(k).
    *
    * Scale shape: the native `token_entropy` kernel
    * ([[graft.functions.TokenEntropy]]) makes the whole computation a
    * ZERO-exchange map-only projection — every count is doc-local, so
    * nothing ever shuffles (the hash_embed lesson: the declarative
    * explode + two-groupBy spelling pays a (doc, token) exchange plus
    * the rollup for arithmetic one per-row pass computes). Map-only
    * also means stateless-streaming-safe: a raw text stream scores
    * with no state. Output: (idCol, n_tok, entropy_mb).
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol), split(col(textCol), " ", -1).as("_tk"))
      .select(col(idCol), size(col("_tk")).cast("long").as("n_tok"),
        call_function("token_entropy", col("_tk")).as("entropy_mb"))
  }

  /** Marker-token language ID with deterministic first-wins argmax.
    * Adds column `pred_lang` to the input columns.
    */
  def langId(df: DataFrame, textCol: String,
      markers: Seq[(String, String)]): DataFrame = {
    val scored = markers.foldLeft(df) { case (d, (l, w)) =>
      d.withColumn(s"s_$l", occurrences(col(textCol), w))
    }
    val langs = markers.map(_._1)
    val pred = langs.dropRight(1).foldLeft(when(lit(false), "")) { (acc, l) =>
      val geq = langs.filterNot(_ == l)
        .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      acc.when(geq, l)
    }.otherwise(langs.last)
    scored.withColumn("pred_lang", pred)
      .drop(langs.map(l => s"s_$l"): _*)
  }

  /** Blocking fingerprints. Output: idCol, sig, prefix_sig, len_bucket
    * (needs a pre-computed char-length column `lenCol`).
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String,
      lenCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol).cast("binary")).as("sig"),
      md5(substring(col(textCol), 1, 64).cast("binary")).as("prefix_sig"),
      // lengths are non-negative, so floor-div == integer div; Column
      // API (not an expr string) keeps hostile lenCol names resolvable
      floor(col(lenCol) / 100).cast("long").as("len_bucket"))

  /** Canonical text normalization (lowercase, strip non-alnum, collapse
    * whitespace) — cross-engine-safe character classes only.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Within-doc duplicate-n-gram fraction (Gopher/C4 repetition rule).
    * Output: idCol, total_grams, dup_x1000, keep.
    */
  def repetitionFilter(df: DataFrame, idCol: String, textCol: String,
      keepBelowX1000: Int = 300): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol), split(col(textCol), " ", -1).as("toks"))
      .select(col(idCol),
        greatest(size(col("toks")) - 2, lit(0)).cast("long").as("total_grams"),
        size(expr(s"shingle_hashes(toks, 3, ${TextHashing.P})")).cast("long")
          .as("nd"))
      .select(col(idCol), col("total_grams"),
        when(col("total_grams") > 0,
          expr("((total_grams - nd) * 1000) div total_grams"))
          .otherwise(0L).as("dup_x1000"))
      .withColumn("keep", col("dup_x1000") <= keepBelowX1000)
  }

  /** Per-doc top-k TF-IDF-proxy terms (integer fixed-point score).
    * Output: idCol, term, score_x, rn.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    val tf = df
      .select(col(idCol), explode(split(col(textCol), " ", -1)).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("term"))
      .select(col(idCol), col("term"),
        expr("(tf * 1000000) div df").as("score_x"))
      .groupBy(col(idCol))
      .agg(expr(s"topk_agg($k, score_x, term)").as("top"))
      .select(col(idCol), explode(col("top")).as("e"))
      .select(col(idCol), col("e.key").as("term"),
        col("e.cnt").as("score_x"), col("e.rn").as("rn"))
  }

  /** PII patterns: emails, IPv4 addresses, phone-like digit runs.
    * Character classes and quantifiers restricted to what RE2 (DuckDB)
    * and java.util.regex treat identically, so redaction output is
    * byte-identical across engines (leftmost-first semantics in both).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhonePattern = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII scrub — the redaction pass of a training-data pipeline.
    * Emails, then IPv4s, then phone-like runs are replaced with typed
    * placeholders; applying them in sequence (each on the previous
    * stage's output) keeps the classes disjoint — IP octets never
    * double-count as phone digits. Output: idCol, n_emails, n_ips,
    * n_phones, redacted. Map-only, codegen'd regex.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the OUTPUT schema fixes these names, so an id column that shadows
    // one would be silently replaced by a count — fail fast instead
    // (the rest of the api's arbitrary-name contract still holds)
    val reserved = Set("n_emails", "n_ips", "n_phones", "redacted",
      "_t0", "_t1", "_t2")
    require(!reserved.contains(idCol),
      s"redactPii: id column '$idCol' collides with an output/working " +
        s"column (${reserved.mkString(", ")}) — rename it first")
    def nMatches(c: Column, pat: String): Column =
      size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    df.select(col(idCol), col(textCol).as("_t0"))
      .withColumn("n_emails", nMatches(col("_t0"), EmailPattern))
      .withColumn("_t1",
        regexp_replace(col("_t0"), EmailPattern, "<EMAIL>"))
      .withColumn("n_ips", nMatches(col("_t1"), Ipv4Pattern))
      .withColumn("_t2", regexp_replace(col("_t1"), Ipv4Pattern, "<IP>"))
      .withColumn("n_phones", nMatches(col("_t2"), PhonePattern))
      .withColumn("redacted",
        regexp_replace(col("_t2"), PhonePattern, "<PHONE>"))
      .select(col(idCol), col("n_emails"), col("n_ips"), col("n_phones"),
        col("redacted"))
  }

  /** Script/style blocks INCLUDING content — the real boilerplate
    * payload of crawled HTML. `(?s)` so the block may span lines;
    * `(?i)` because real crawled HTML carries `<SCRIPT>` as often as
    * `<script>` and an uppercase block keeping its JS payload defeats
    * the stripper's whole purpose (ADVICE r13); non-greedy so adjacent
    * blocks don't merge. Each tag pairs with ITS OWN close tag via
    * alternation — backreferences are unavailable in RE2, and the old
    * combined close-tag class consumed `<script>..</style>` as one
    * block. All three constructs (inline flags, lazy quantifier,
    * top-level alternation) mean the same thing to Java's regex and
    * DuckDB's RE2, which is what keeps the q144 oracle hash-exact.
    */
  val ScriptStylePattern =
    "(?si)(<script[^>]*>.*?</script>|<style[^>]*>.*?</style>)"

  /** Any remaining markup tag ((?i) would be a no-op here — the
    * pattern has no cased literal). */
  val TagPattern = "<[^>]*>"

  /** The five predefined XML/HTML entities (all a markup stripper can
    * decode without an entity table).
    */
  val EntityPattern = "&(amp|lt|gt|quot|#39);"

  /** Markup/boilerplate stripping — the HTML-to-text pass every
    * crawled training corpus goes through before any quality or dedup
    * stage (script/style payloads would otherwise dominate shingles
    * and quality ratios). Three sequential stages, each on the
    * previous stage's output so the classes stay disjoint (the
    * [[redactPii]] discipline): (1) script/style blocks drop WITH
    * their content, (2) remaining tags become spaces (a space, not
    * empty — `</p><p>` must not weld two words together), (3) the
    * five predefined entities decode (`&amp;` LAST, so `&amp;lt;`
    * decodes to the literal `&lt;` and never double-decodes), then
    * whitespace runs collapse and trim. Output: idCol, n_scripts,
    * n_tags, n_entities, clean. Map-only, codegen'd regex.
    */
  def stripMarkup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val reserved = Set("n_scripts", "n_tags", "n_entities", "clean",
      "_t0", "_t1", "_t2", "_t3")
    require(!reserved.contains(idCol),
      s"stripMarkup: id column '$idCol' collides with an output/working " +
        s"column (${reserved.mkString(", ")}) — rename it first")
    def nMatches(c: Column, pat: String): Column =
      size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(col("_t2")) { case (c, (ent, ch)) =>
        replace(c, lit(ent), lit(ch)) }
    df.select(col(idCol), col(textCol).as("_t0"))
      .withColumn("n_scripts", nMatches(col("_t0"), ScriptStylePattern))
      .withColumn("_t1",
        regexp_replace(col("_t0"), ScriptStylePattern, " "))
      .withColumn("n_tags", nMatches(col("_t1"), TagPattern))
      .withColumn("_t2", regexp_replace(col("_t1"), TagPattern, " "))
      .withColumn("n_entities", nMatches(col("_t2"), EntityPattern))
      .withColumn("_t3", decoded)
      .withColumn("clean",
        trim(regexp_replace(col("_t3"), "[ \\t\\r\\n]+", " ")))
      .select(col(idCol), col("n_scripts"), col("n_tags"),
        col("n_entities"), col("clean"))
  }

  /** An anchor's href value — capture group 1, STILL WRAPPED in its
    * quotes when it had any. All three HTML quoting styles match:
    * double-quoted, single-quoted, and bare (no whitespace/quote/`>`
    * per the HTML attribute grammar). The alternation lives INSIDE the
    * one capture group, so group 1 participates in every alternative
    * and `regexp_extract_all(_, _, 1)` keeps document order across
    * mixed quoting — unwrap with [[HrefUnquotePattern]].
    */
  val HrefPattern = "href=(\"[^\"]*\"|'[^']*'|[^\\s\"'>]+)"

  /** Strips the quote wrapper a [[HrefPattern]] group-1 match kept:
    * replacement `$1$2` (DuckDB: `\1\2`) — the alternative that didn't
    * participate substitutes empty in both engines, and requiring the
    * SAME quote char at both ends means a trailing inner quote of the
    * other kind is never eaten. Bare values match neither alternative
    * and pass through unchanged.
    */
  val HrefUnquotePattern = "^\"(.*)\"$|^'(.*)'$"

  /** The scheme+host prefix of an absolute http(s) URL — capture
    * group 1 is the host. */
  val HostPattern = "^https?://([^/]+)"

  /** Link extraction — the crawl-frontier builder: every href in a
    * doc's markup becomes one output row with its within-doc position
    * and (for absolute http(s) URLs) its host, ready for the frontier
    * rollup + politeness budget ([[frontierBudget]]) or a q86-style
    * URL canonicalization pass. Double-quoted, single-quoted, and bare
    * href values all extract, with ordinality stable across mixed
    * quoting ([[HrefPattern]]); relative links carry an empty host.
    * Output: idCol, link_idx (0-based within doc), href, host.
    * Map-only: extract + posexplode + unquote + host projection, zero
    * shuffles at any scale (the Generate stays in its input partition).
    */
  def extractLinks(df: DataFrame, idCol: String, textCol: String,
      extraCols: Seq[String] = Nil): DataFrame = {
    // pos/col are posexplode's intermediate output names — an idCol
    // named either would ambiguate the projection below (ADVICE r13)
    val reserved = Set("link_idx", "href", "host", "pos", "col")
    require((idCol +: extraCols).forall(!reserved.contains(_)),
      s"extractLinks: id/extra column collides with an output or " +
        s"intermediate column (${reserved.mkString(", ")}) — rename it first")
    def unquote(c: Column): Column =
      regexp_replace(c, HrefUnquotePattern, "$1$2")
    val carried = (idCol +: extraCols).map(col)
    df.select(carried :+
        posexplode(regexp_extract_all(col(textCol), lit(HrefPattern), lit(1))): _*)
      .select(carried ++ Seq(col("pos").cast("long").as("link_idx"),
        unquote(col("col")).as("href"),
        regexp_extract(unquote(col("col")), HostPattern, 1).as("host")): _*)
  }

  /** A full plain-text anchor element: group 1 the href value (still
    * quote-wrapped when quoted — the [[HrefPattern]] alternation
    * verbatim), group 2 the anchor TEXT. `[^<]*` bounds the text at
    * the next tag, so anchors with nested markup (`<a ...><b>x</b>
    * </a>`) deliberately do NOT match — anchor-text aggregation wants
    * the plain-text label, and a nested-markup label is [[stripMarkup]]
    * territory. RE2-compatible (no backrefs, no lazy quantifiers), so
    * DuckDB replays it exactly.
    */
  val AnchorPattern =
    "<a[^>]*href=(\"[^\"]*\"|'[^']*'|[^\\s\"'>]+)[^>]*>([^<]*)</a>"

  /** Anchor-text extraction — [[extractLinks]]' labeled sibling: every
    * PLAIN-TEXT anchor element becomes one row with its within-doc
    * position, unquoted href, host, and the anchor text (the label the
    * linking page gave the target — the classic relevance/title signal
    * an anchor-text rollup aggregates per URL). Both capture groups
    * extract from ONE pattern pass, zipped positionally, so href and
    * text can never mis-align across mixed quoting. Map-only: two
    * regexp_extract_all passes over the same codegen'd pattern +
    * arrays_zip + posexplode, zero shuffles (the Generate stays in its
    * input partition). Output: idCol, link_idx, href, host, anchor.
    */
  def extractAnchors(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val reserved = Set("link_idx", "href", "host", "anchor", "pos", "col",
      "_z")
    require(!reserved.contains(idCol),
      s"extractAnchors: id column '$idCol' collides with an output or " +
        s"intermediate column (${reserved.mkString(", ")}) — rename it first")
    def unquote(c: Column): Column =
      regexp_replace(c, HrefUnquotePattern, "$1$2")
    df.select(col(idCol), posexplode(arrays_zip(
        regexp_extract_all(col(textCol), lit(AnchorPattern), lit(1)),
        regexp_extract_all(col(textCol), lit(AnchorPattern), lit(2)))
        .as("_z")))
      .select(col(idCol), col("pos").cast("long").as("link_idx"),
        unquote(col("col.0")).as("href"),
        regexp_extract(unquote(col("col.0")), HostPattern, 1).as("host"),
        col("col.1").as("anchor"))
  }

  /** Parses raw robots.txt BODIES into the (host, prefix, allow)
    * rules frame [[robotsFilter]] consumes — the text→rules step
    * between fetching `/robots.txt` and enforcing it, so the crawl
    * front door no longer needs pre-parsed rules from outside the
    * engine. One body per host; output: hostCol, prefix, allow
    * (distinct rules for the ONE agent's applicable groups).
    *
    * REP semantics implemented (the parse the spec's group model
    * defines, replayable in SQL): lines split on '\n' (the
    * [[dedupLines]] split discipline applied to robots bodies);
    * `#`-comments strip to end of line and surrounding whitespace —
    * including the CR of CRLF bodies — trims away; field names
    * (`User-agent` / `Allow` / `Disallow`) match case-insensitively
    * with optional whitespace around the colon. A group is one or
    * more CONSECUTIVE User-agent lines followed by rules; a
    * User-agent line after a rule line starts a new group, and rules
    * before any User-agent line belong to no group (ignored, per the
    * spec). Group selection is two-tier like the spec's
    * most-specific-match: if any group on the host names `agent`
    * exactly (case-insensitive), only those groups apply; otherwise
    * the `*` groups apply. Allow/Disallow lines with EMPTY values
    * emit nothing (an empty Disallow means allow-everything — the
    * absence of a rule already encodes it, and [[robotsFilter]]
    * allows unmatched URLs).
    *
    * Scale shape: one body-keyed line explode (map-only) and ONE
    * host-keyed exchange for the per-host group windows — robots
    * bodies are small by nature (the spec caps parse obligation at
    * 500 KiB) and one host's lines always fit a task. The output is
    * rules-sized and broadcasts into [[robotsFilter]].
    */
  def parseRobots(robots: DataFrame, hostCol: String, bodyCol: String,
      agent: String = "*"): DataFrame = {
    val reserved = Set("prefix", "allow", "pos", "col", "_ln", "_f",
      "_v", "_isua", "_prevua", "_gstart", "_grp", "_gexact", "_gstar",
      "_hexact")
    require(!reserved.contains(hostCol),
      s"parseRobots: host column '$hostCol' collides with an output/" +
        s"working column (${reserved.mkString(", ")}) — rename it first")
    val fieldPat = "^([A-Za-z-]+)\\s*:\\s*(.*)$"
    val lines = robots
      .select(col(hostCol), posexplode(split(col(bodyCol), "\n", -1)))
      .select(col(hostCol), col("pos").cast("long").as("pos"),
        // strip comment, then trim whitespace (CR of CRLF included)
        regexp_replace(regexp_replace(col("col"), "#.*", ""),
          "^\\s+|\\s+$", "").as("_ln"))
    val parsed = lines.select(col(hostCol), col("pos"),
      lower(regexp_extract(col("_ln"), fieldPat, 1)).as("_f"),
      regexp_extract(col("_ln"), fieldPat, 2).as("_v"))
    val wPos = Window.partitionBy(col(hostCol)).orderBy(col("pos"))
    val wGrp = Window.partitionBy(col(hostCol), col("_grp"))
    val wHost = Window.partitionBy(col(hostCol))
    parsed
      .withColumn("_isua", col("_f") === "user-agent")
      .withColumn("_prevua", lag(col("_isua"), 1, false).over(wPos))
      .withColumn("_grp",
        sum((col("_isua") && !col("_prevua")).cast("int")).over(
          wPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_gexact", max(
        when(col("_isua") &&
          lower(col("_v")) === lit(agent.toLowerCase(java.util.Locale.ROOT)),
          1).otherwise(0)).over(wGrp))
      .withColumn("_gstar", max(
        when(col("_isua") && col("_v") === "*", 1).otherwise(0)).over(wGrp))
      .withColumn("_hexact", max(col("_gexact")).over(wHost))
      .filter(col("_grp") >= 1 &&
        when(col("_hexact") === 1, col("_gexact") === 1)
          .otherwise(col("_gstar") === 1))
      .filter(col("_f").isin("allow", "disallow") && col("_v") =!= "")
      .select(col(hostCol), col("_v").as("prefix"),
        (col("_f") === "allow").as("allow"))
      .distinct()
  }

  /** Robots-exclusion filtering over extracted/discovered URLs — the
    * compliance step between frontier discovery and the fetch queue.
    * `rules` is a (host, prefix, allow) frame (one row per
    * Allow/Disallow line, pre-resolved per user-agent — [[parseRobots]]
    * derives it from robots.txt bodies); verdict per URL follows the
    * robots REP longest-match semantics: the longest rule prefix
    * matching the URL's path (query included, as in the spec's string
    * model) decides, an Allow and a Disallow of EQUAL length resolve to
    * allow, and a URL matching no rule — including relative/non-http(s)
    * URLs, which carry no host — is allowed. Output: idCol, hrefCol,
    * extraCols..., allowed, matched_prefix ('' when no rule matched);
    * one verdict row per input row, nothing dropped (the caller chooses
    * to filter — keeping verdicts makes the op auditable, which a
    * crawler's compliance layer must be). `extraCols` carry through
    * untouched.
    *
    * Evaluated MAP-ONLY per row: rules group once into (host,
    * array<(prefix, allow)>) (rules are tiny by nature), broadcast-join
    * on host, and the winning rule is `array_min` over the matching
    * entries ordered by (-len(prefix), NOT allow, prefix) — the
    * (len DESC, allow DESC, prefix ASC) rank the q148/q166 oracles
    * replay with a window. Zero shuffles on the URL side and no window
    * operator, so the same verdict runs inside a STREAMING plan
    * ([[graft.streaming.SchedulerGate]] — non-time windows cannot run
    * on streaming frames). A row with a null id is judged like any
    * other row.
    */
  def robotsFilter(urls: DataFrame, idCol: String, hrefCol: String,
      rules: DataFrame, ruleHostCol: String = "host",
      rulePrefixCol: String = "prefix", ruleAllowCol: String = "allow",
      extraCols: Seq[String] = Nil): DataFrame = {
    val reserved = Set("allowed", "matched_prefix", "_h", "_pth", "_rs",
      "_best")
    require((idCol +: hrefCol +: extraCols).forall(!reserved.contains(_)),
      s"robotsFilter: id/href/extra column collides with an " +
        s"output/working column (${reserved.mkString(", ")}) — rename " +
        "it first")
    // drop empty-host rule rows BEFORE grouping: host-less URLs (and
    // rules) key to _h = '', and host-less URLs are ALWAYS allowed —
    // without this guard an ''-keyed rule group would join those rows
    // and could flip their verdict
    val r = rules.select(col(ruleHostCol).as("_h"),
        struct(col(rulePrefixCol).cast("string").as("p"),
          col(ruleAllowCol).cast("boolean").as("a")).as("_r"))
      .filter(col("_h") =!= "")
      .groupBy(col("_h")).agg(collect_list(col("_r")).as("_rs"))
    val carried = (Seq(idCol, hrefCol) ++ extraCols).map(col)
    urls.select(carried :+
        regexp_extract(col(hrefCol), HostPattern, 1).as("_h") :+
        regexp_replace(col(hrefCol), "^https?://[^/]+", "").as("_pth"): _*)
      .join(broadcast(r), Seq("_h"), "left")
      .withColumn("_best", expr(
        """array_min(transform(
             filter(_rs, x -> startswith(_pth, x.p)),
             x -> named_struct('nl', -length(x.p), 'na', NOT x.a,
                               'p', x.p, 'a', x.a)))"""))
      .select(carried :+
        coalesce(col("_best.a"), lit(true)).as("allowed") :+
        coalesce(col("_best.p"), lit("")).as("matched_prefix"): _*)
  }

  /** Frontier rollup + politeness budget — the consumer of
    * [[extractLinks]] that turns raw anchors into a crawl schedule:
    * absolute links aggregate per (host, href) with their in-link
    * count, each host's URLs rank most-referenced-first (ties by href
    * — deterministic, replayable), and the per-host fetch budget keeps
    * only the first `budgetPerHost` (politeness: a crawler issues at
    * most that many fetches per host per cycle). Each kept URL carries
    * its host's frontier rollup: host_urls (distinct URLs seen),
    * host_links (total anchor occurrences), host_docs (distinct
    * documents linking into the host). Output: hostCol, href, n_refs,
    * fetch_rank, host_urls, host_links, host_docs.
    *
    * Scale shape — exactly ONE host-keyed exchange on URL-sized rows,
    * in ONE linear pipeline (PlanSpec-asserted): the explicit
    * repartition on `hostCol` is the only shuffle, and every
    * downstream stage — the (host, href, doc) dedup aggregate, the
    * host-level stats, the rank cut — runs partition-local on that
    * clustering. The host stats are WINDOW aggregates over the same
    * frame rather than a groupBy + self-join: a branching DAG here
    * would re-plan the scan → extract → exchange subtree once per
    * consumer (column pruning specializes each branch's copy below
    * the exchange, which defeats exchange reuse), where the window
    * formulation keeps a single subtree — one scan, one shuffle, a
    * few per-host sorts of URL-sized rows. The rank filter keeps
    * `budgetPerHost` rows per host, so the output is budget-shaped:
    * O(hosts × budget), never link-count-shaped. The unit-weight
    * specialization of the q50/q142 fill-to-budget discipline —
    * fetches all cost 1, so the exclusive prefix sum IS rank−1 and
    * the cut `rank <= budget`. A pathological mega-host lands on one
    * task (inherent to any per-host contract); its sorts spill rather
    * than fail, and the budget bounds what survives.
    */
  def frontierBudget(links: DataFrame, idCol: String, hostCol: String,
      hrefCol: String, budgetPerHost: Int): DataFrame = {
    require(budgetPerHost >= 1,
      s"frontierBudget: budgetPerHost must be >= 1, got $budgetPerHost")
    val wHost = Window.partitionBy(col(hostCol))
    val abs = links
      .filter(col(hostCol) =!= "")
      .select(col(idCol), col(hostCol), col(hrefCol))
      .repartition(col(hostCol))
    // one row per (host, href, doc) with its anchor multiplicity —
    // clustering already satisfied, partition-local
    val perUrlDoc = abs
      .groupBy(col(hostCol), col(hrefCol), col(idCol))
      .agg(count(lit(1)).as("_n"))
    // distinct-doc count per host via dense_rank + max (window
    // count-distinct doesn't exist); host_links as a whole-partition
    // window sum
    val withHostStats = perUrlDoc
      .withColumn("_rd", dense_rank().over(wHost.orderBy(col(idCol).asc)))
      .withColumn("host_docs", max(col("_rd")).over(wHost).cast("long"))
      .withColumn("host_links", sum(col("_n")).over(wHost))
    val perUrl = withHostStats
      .groupBy(col(hostCol), col(hrefCol))
      .agg(sum(col("_n")).as("n_refs"),
        // constants per host — max just carries them through the agg
        max(col("host_docs")).as("host_docs"),
        max(col("host_links")).as("host_links"))
    perUrl
      .withColumn("host_urls", count(lit(1)).over(wHost))
      .withColumn("fetch_rank", row_number().over(
        wHost.orderBy(col("n_refs").desc, col(hrefCol).asc)).cast("long"))
      .filter(col("fetch_rank") <= budgetPerHost)
      .select(col(hostCol), col(hrefCol), col("n_refs"), col("fetch_rank"),
        col("host_urls"), col("host_links"), col("host_docs"))
  }

  /** Corpus documents sharing >= 1 hashed n-token gram with a benchmark
    * frame. Output: idCol, n_shared_grams (docs with zero overlap are
    * absent). Benchmark side is broadcast — at scale it is tiny.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    graft.GraftExtensions.register(corpus.sparkSession)
    def grams(d: DataFrame) = d
      .select(col(idCol), split(col(textCol), " ", -1).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(idCol),
        expr(s"shingle_hashes(toks, $n, ${TextHashing.P})").as("gs"))
    val bench = grams(benchmark).select(explode(col("gs")).as("g")).distinct()
    grams(corpus)
      .select(col(idCol), explode(col("gs")).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** URL canonicalization — the crawl front door UPSTREAM of text
    * dedup: the same page is crawled as `HTTP://Site.com:80/a/?utm_…`,
    * `http://site.com/a` and `http://user@site.com/a#frag`, and
    * canonicalizing BEFORE fetching/deduping collapses them without
    * touching a byte of body text. Steps (each a codegen'd built-in
    * regex, no UDF):
    *
    *  1. scheme + host lowercase (case-insensitive per RFC 3986);
    *  2. userinfo (`user:pw@`) stripped — never identity-bearing for
    *     a crawler and a credential-leak hazard in logs;
    *  3. default ports dropped (`:80` for http, `:443` for https);
    *     other ports kept verbatim;
    *  4. fragment stripped (client-side only, never sent on the wire);
    *  5. tracking parameters removed (`utm_*`, `fbclid`, `gclid`),
    *     with delimiters repaired (`?utm=…&id=1` → `?id=1`); an
    *     all-tracking query drops its `?` entirely;
    *  6. trailing path slashes trimmed (`/a/` → `/a`), empty path →
    *     `/`.
    *
    * Deliberately NOT done: %-escape decoding (reserved-character
    * escapes are semantic — decoding `%2F` would change the path) and
    * query-param reordering (order can be semantic for some servers);
    * both preserved byte-exact. IDN hosts pass through as-is —
    * punycode conversion needs a lookup table, not a regex; documents
    * carrying raw unicode hosts canonicalize consistently (lowercase
    * applies) but won't match their punycoded twins. Strings without a
    * `scheme://` are returned UNCHANGED (not a URL — mangling beats
    * silently inventing one). Single-line strings only.
    *
    * Pure Column → Column, so it composes with any frame; the exact
    * regex steps are mirrored in q86's DuckDB oracle.
    */
  def canonicalUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    // userinfo ends at the first @ BEFORE any path/query/fragment
    // delimiter — an @ later in the URL (mailto in a query) is payload
    val rest1 = regexp_replace(rest, "^[^/@?#]*@", "")
    val hostport = regexp_extract(rest1, "^([^/?#]*)", 1)
    val pathq = regexp_replace(rest1, "^[^/?#]*", "")
    val host = lower(regexp_replace(hostport, ":[0-9]*$", ""))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val pf = regexp_replace(pathq, "#.*", "")
    val path0 = regexp_extract(pf, "^([^?]*)", 1)
    val query0 = regexp_extract(pf, "\\?(.*)", 1)
    // tracking params drop with their leading delimiter preserved via
    // $1, then double-& runs collapse and stray edge &s trim — the
    // three-step repair keeps ?a=1&utm=x&b=2 → ?a=1&b=2 exact
    val query1 = regexp_replace(regexp_replace(regexp_replace(query0,
      "(^|&)(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*", "$1"),
      "&&+", "&"), "^&+|&+$", "")
    val path1 = when(path0 === "", lit("/"))
      .otherwise(regexp_replace(path0, "(.+?)/+$", "$1"))
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    when(scheme === "", u).otherwise(
      concat(scheme, lit("://"), host, portPart, path1,
        when(query1 === "", lit("")).otherwise(concat(lit("?"), query1))))
  }

  /** Exact URL-level dedup by canonical form ([[canonicalUrl]]) — the
    * digest-groupBy shape of DedupOps.exactDuplicates applied to the
    * crawl frontier. Output: canonical_url, keeper_id, n_copies. Only
    * (canonical, id) shuffles; canonicalization is map-only.
    */
  def urlDuplicates(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(canonicalUrl(col(urlCol)).as("canonical_url"), col(idCol))
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Fixed-window token chunking with stride — the training-data
    * windowing step (context-length packing's upstream: long documents
    * become overlapping model-sized pieces). Chunk i covers tokens
    * [i·stride, i·stride + chunkTokens); chunks start while offset <
    * n_tokens, so the tail chunk may be short but text is never
    * dropped. Output: idCol, chunk_idx, n_tok, chunk_text.
    *
    * Map-only with controlled fan-out: the Generate explodes each doc
    * into ⌈n/stride⌉ rows — no shuffle, no window, codegen-friendly
    * builtins only (sequence → posexplode → slice → concat_ws). At
    * 100 TB the fan-out factor is len/stride, set by the caller; rows
    * stay within their input partition.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      "need 1 <= stride <= chunkTokens")
    df.select(col(idCol), split(col(textCol), " ", -1).as("_toks"))
      .select(col(idCol),
        posexplode(expr(s"sequence(0L, (size(_toks) - 1) div $stride)"))
          .as(Seq("chunk_idx", "_off")),
        col("_toks"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"slice(_toks, chunk_idx * $stride + 1, $chunkTokens)")
          .as("_c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("_c")).cast("long").as("n_tok"),
        concat_ws(" ", col("_c")).as("chunk_text"))
  }

  /** Cross-document boilerplate measure: fraction of each doc's
    * DISTINCT n-token grams that appear in >= `commonDocFreq` docs
    * corpus-wide (the C4 boilerplate signal — navigation chrome,
    * licenses, templates repeat across pages; no newline structure
    * required). Output: idCol, n_grams, n_common, common_x1000.
    *
    * Shape at 100 TB: grams are 60-bit hashes (never gram text) via
    * the codegen `shingle_hashes`; the document-frequency aggregate
    * and the postings∩common semi-join both shuffle only (id, hash)
    * longs and are co-partitioned on the gram hash; the per-doc
    * rollup collapses map-side. Docs with zero common grams are kept
    * (left join, 0-filled); docs with fewer than n tokens have no
    * grams at all and are ABSENT from the output — callers scoring a
    * corpus with sub-n-token rows should treat absence as "no signal",
    * not join-drop them silently.
    */
  def commonGramRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, commonDocFreq: Int = 5): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    // shingle_hashes dedupes (distinct grams, insertion order), so
    // size(_gs) is the per-doc distinct-gram count and each doc votes
    // once per gram in the document-frequency aggregate
    val grams = df
      .select(col(idCol), split(col(textCol), " ", -1).as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col(idCol),
        expr(s"shingle_hashes(_toks, $n, ${TextHashing.P})").as("_gs"))
    val posting = grams.select(col(idCol), explode(col("_gs")).as("_g"))
    val common = posting.groupBy(col("_g"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= commonDocFreq)
      .select(col("_g"))
    val commonPerDoc = posting.join(common, Seq("_g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nc"))
    grams.select(col(idCol), size(col("_gs")).cast("long").as("n_grams"))
      .join(commonPerDoc, Seq(idCol), "left")
      .withColumn("n_common", coalesce(col("_nc"), lit(0L)))
      .withColumn("common_x1000", expr("(n_common * 1000) div n_grams"))
      .select(col(idCol), col("n_grams"), col("n_common"), col("common_x1000"))
  }

  /** Corpus-level duplicated-line removal — the CCNet/RefinedWeb
    * "line-wise correction" pass (Wenzek et al. 2020 §3.1 dedupe lines
    * across shards; Penedo et al. 2023 §5.2 remove repeated lines):
    * a line whose NORMALIZED form (trim + lowercase — the CCNet
    * normalization, so `"  Cookie Notice"` and `"COOKIE NOTICE  "`
    * are one key) occurs in MORE than `maxDocFreq` distinct documents
    * is boilerplate (cookie banners, nav chrome, license footers) and
    * is dropped from EVERY document; surviving lines re-assemble in
    * their original order. Unlike [[commonGramRatio]], which only
    * SCORES boilerplate, this REWRITES the corpus — the stage between
    * markup stripping ([[stripMarkup]]) and document-level dedup in a
    * crawled-corpus pipeline. Lines whose normalized form is empty
    * are structure, not content: always kept, never counted (an
    * empty-line key shared by every doc must not evict blank lines).
    * Output: idCol, n_lines, n_dropped, clean (kept lines joined by
    * '\n'; empty string when every line dropped — the doc row is
    * KEPT so callers can length-filter explicitly, the q70 absence
    * discipline inverted).
    *
    * Shape at 100 TB: lines explode with their ordinal (the Generate
    * stays in its input partition — no shuffle to split); the
    * document-frequency aggregate shuffles ONLY (id, hash60) longs —
    * never line text (the [[commonGramRatio]] discipline) — with the
    * (key, id) distinct collapsing repeats map-side; the common set (keys over `maxDocFreq`) is tiny by
    * construction — boilerplate cardinality, not corpus cardinality —
    * so AQE broadcasts the marker join back onto the unshuffled line
    * stream; re-assembly is the single doc-keyed exchange, memory
    * bounded by one document's lines. A 60-bit collision merges two
    * line keys corpus-wide (P(collision) ~ n²/2^61) — acceptable for
    * a boilerplate filter and exactly replayed by the oracle, which
    * computes the same hashes.
    *
    * The self pass is [[linesProbe]] with the frame as its own corpus:
    * the same body, over the same [[lineRows]] derivation, as
    * [[dedupLinesAgainst]] and [[dedupLinesAgainstIndex]] (a row with a
    * null id counts as one document, as it does in the index).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int = 4): DataFrame =
    linesProbe(df, idCol, textCol,
      IndexMaintenance.Corpus.derived()(lineRows(df, idCol, textCol)),
      commonLines(maxDocFreq, "dedupLines"), "dedupLines")

  /** The line-dedup probe, ONE body for the self pass, the inline
    * delta pass and the persisted-index pass: the delta's lines
    * (the shared [[linePositions]] split) left-join the `common` keys
    * of the corpus's line counts — pruned to the delta's `__lp`
    * prefixes when the source is an index — and re-assemble; presence
    * rides the `_hit` marker, never payload null-ness (the q65
    * discipline), and a null `_kh` (blank line) joins nothing, so
    * blank lines are kept.
    */
  private def linesProbe(newDf: DataFrame, idCol: String, textCol: String,
      corpus: IndexMaintenance.Corpus, common: DataFrame => DataFrame,
      op: String): DataFrame = {
    requireLineCols(idCol, op)
    val lines = linePositions(newDf, idCol, textCol)
    val hits = common(corpus.pruned("lines",
        lines.filter(col("_kh").isNotNull), col("_kh")))
      .withColumn("_hit", lit(1))
    reassembleLines(lines.join(hits, Seq("_kh"), "left"), idCol)
  }

  /** THE boilerplate threshold of every line-dedup path and of
    * [[graft.streaming.LineGate]]: a (lh, n_docs) line-count table →
    * the `_kh` keys in MORE than `maxDocFreq` distinct documents. */
  private[graft] def commonLines(maxDocFreq: Int,
      op: String): DataFrame => DataFrame = {
    require(maxDocFreq >= 1, s"$op: maxDocFreq $maxDocFreq < 1")
    _.filter(col("n_docs") > maxDocFreq).select(col("lh").as("_kh"))
  }

  // pos/col are posexplode's intermediate output names (the
  // extractLinks discipline)
  private val LineReserved = Set("n_lines", "n_dropped", "clean", "pos",
    "col", "_line", "_kh", "_hit")

  private def requireLineCols(idCol: String, op: String): Unit =
    require(!LineReserved.contains(idCol),
      s"$op: id column '$idCol' collides with an output/working " +
        s"column (${LineReserved.mkString(", ")}) — rename it first")

  /** (idCol, pos, _line, _kh) line rows — the ONE definition of line
    * splitting and key normalization (split on '\n', key =
    * lower(trim(line)), blank keys carry a NULL hash), shared by
    * [[dedupLines]], the incremental [[dedupLinesAgainst]], and the
    * persisted-index ([[writeLineIndex]] /
    * [[dedupLinesAgainstIndex]]) paths so corpus and delta can never
    * normalize differently (the gramPositions discipline).
    */
  private[graft] def linePositions(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), "\n", -1)))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("col").as("_line"),
        when(lower(trim(col("col"))) =!= "",
          TextHashing.hash60(lower(trim(col("col"))))).as("_kh"))

  /** The re-assembly back half shared by every line-dedup path:
    * (id, pos, _line, _hit) marked rows → (id, n_lines, n_dropped,
    * clean) — kept lines re-join in original order, one doc-keyed
    * exchange, memory bounded by one document's lines.
    */
  private def reassembleLines(marked: DataFrame, idCol: String): DataFrame =
    marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(col("_hit")).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
            when(col("_hit").isNull, struct(col("pos"), col("_line"))))),
          s => s.getField("_line")), "\n").as("clean"))
      .select(col(idCol), col("n_lines"), col("n_dropped"), col("clean"))

  /** [[dedupLines]]' incremental posture (the q59/q149 train-vs-delta
    * split applied to line dedup): lines of NEW documents drop when
    * their normalized key appears in more than `maxDocFreq` distinct
    * CORPUS documents. The corpus is never rewritten and the delta
    * never counts toward the threshold — delta-internal repetition is
    * [[dedupLines]]' job, run over the batch itself when wanted. At
    * 100 TB the corpus side is materialized once ([[writeLineIndex]])
    * and probed per ingest batch ([[dedupLinesAgainstIndex]]). The two
    * forms differ only in where the corpus's line counts come from —
    * [[lineRows]] derived here in memory, or the index's reconciled
    * table — and share one probe body ([[linesProbe]]), so they agree
    * by construction. Output: the [[dedupLines]] schema over the NEW
    * docs only.
    */
  def dedupLinesAgainst(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, textCol: String, maxDocFreq: Int = 4): DataFrame =
    linesProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.derived()(lineRows(corpusDf, idCol, textCol)),
      commonLines(maxDocFreq, "dedupLinesAgainst"), "dedupLinesAgainst")

  /** The line-count index family, sharing the gram family's reconcile
    * algebra (exact BY ADDITIVITY): `lines` = (lh, n_docs)
    * per-normalized-line distinct-corpus-doc counts, partitioned by
    * `__lp = lh mod prefix_partitions` and sorted by lh; meta carries
    * (prefix_partitions, layers, committed_runs — the per-run
    * manifest, closing the SUM family's append-before-commit crash
    * window structurally). RAW counts are stored — the probe applies
    * `maxDocFreq` at read, so one index serves any threshold policy.
    */
  private[graft] val LineIndex = IndexMaintenance.Family("line",
    "writeLineIndex", Seq("prefix_partitions"),
    "prefix geometry and run manifest", IndexMaintenance.Manifest.Runs,
    _ => Seq(IndexMaintenance.Table("lines", Seq("lh"), 8,
      IndexMaintenance.Reconcile.Summed(Seq("lh"), Seq("n_docs")),
      Some("__lp" -> col("lh")))))

  /** The line family's corpus table — the ONE derivation behind every
    * line-dedup path, the index build/fold and LineGate: per normalized
    * line, its distinct-document count (blank lines are never
    * counted). */
  private[graft] def lineRows(df: DataFrame, idCol: String,
      textCol: String)(m: IndexMaintenance.Meta): IndexMaintenance.Delta =
    IndexMaintenance.Delta("lines" -> linePositions(df, idCol, textCol)
      .filter(col("_kh").isNotNull)
      .select(col("_kh").as("lh"), col(idCol)).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("n_docs")))

  /** Materialize the corpus side of [[dedupLinesAgainst]] to parquet
    * ([[LineIndex]]'s layout). Build once per corpus version, fold
    * deltas daily ([[foldIntoLineIndex]] / [[maintainLineIndex]]),
    * probe per ingest batch.
    */
  def writeLineIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    requireLineCols(idCol, "writeLineIndex")
    IndexMaintenance.write(corpus.sparkSession, path, LineIndex)(
      lineRows(corpus, idCol, textCol))
  }

  /** Fold a DELTA of new documents into a persisted [[writeLineIndex]]
    * IN PLACE with O(delta) write bytes: the delta's per-line
    * distinct-doc counts land as their own run under a fresh `__run`
    * id the meta commits after the append (the gram-count discipline;
    * RecoverySpec pins that an uncommitted run is invisible).
    */
  def foldIntoLineIndex(delta: DataFrame, idCol: String, textCol: String,
      indexPath: String): Unit = {
    IndexMaintenance.fold(delta.sparkSession, indexPath, LineIndex,
      "foldIntoLineIndex")(lineRows(delta, idCol, textCol))
    ()
  }

  /** Compact a layered line index back to ONE sorted run: per-line
    * counts summed across COMMITTED runs (orphan rows from crashed
    * folds dropped from disk), a single-run manifest. Identical probe
    * results before and after.
    */
  def compactLineIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, LineIndex,
      "compactLineIndex")

  /** [[graft.api.DedupOps.maintainGramIndex]]'s line-count twin. NOT
    * reader-safe across the swap.
    */
  def maintainLineIndex(delta: DataFrame, idCol: String, textCol: String,
      indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.maintain(delta.sparkSession, indexPath, LineIndex,
      "maintainLineIndex", compactThreshold)(
      lineRows(delta, idCol, textCol)).contains(true)

  /** [[dedupLinesAgainst]] probing a PERSISTED [[writeLineIndex]]:
    * the delta's lines normalize with the shared [[linePositions]]
    * definition, the delta's distinct `__lp` prefixes become an
    * `isin` literal the scan planner turns into partition-directory
    * pruning (an ingest batch's line keys touch a handful of
    * prefixes, never the corpus-wide line table), layered runs
    * reconcile by per-line SUM, and `maxDocFreq` applies to the
    * reconciled totals — [[linesProbe]] over the index's table.
    * Output identical to the inline path on the same split (DedupSpec
    * parity; q153 gates fold==rebuild on its oracle hash).
    */
  def dedupLinesAgainstIndex(newDf: DataFrame, idCol: String,
      textCol: String, indexPath: String, maxDocFreq: Int = 4): DataFrame = {
    val op = "dedupLinesAgainstIndex"
    val common = commonLines(maxDocFreq, op)
    linesProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.indexed(newDf.sparkSession, indexPath,
        LineIndex, op), common, op)
  }

  /** Apply a frame of per-line DROP DECISIONS — (idCol, pos) rows,
    * e.g. collected from [[graft.streaming.LineGate.drops]]'s append
    * sink — to the original documents: the consumer-side re-assembly
    * that turns the gate's stateless decisions back into cleaned
    * text, through the SAME [[linePositions]] split and
    * [[reassembleLines]] back half as every batch path (so
    * gate-decisions-then-apply is exactly [[dedupLinesAgainstIndex]]
    * — ApiSpec pins the law). Decisions for (id, pos) pairs the
    * documents don't have are ignored; docs with no decisions pass
    * through with n_dropped = 0. Output: the [[dedupLines]] schema.
    *
    * Shape at 100 TB: one (id, pos)-keyed join of line rows against
    * decision rows (decision frames are drop-sized, so AQE
    * broadcasts them in the common case), then the one doc-keyed
    * re-assembly exchange.
    */
  def applyLineDrops(df: DataFrame, idCol: String, textCol: String,
      drops: DataFrame, dropsIdCol: String = "doc_id",
      dropsPosCol: String = "pos"): DataFrame = {
    requireLineCols(idCol, "applyLineDrops")
    val marks = drops.select(col(dropsIdCol).as(idCol),
      col(dropsPosCol).cast("long").as("pos"), lit(1).as("_hit"))
      .distinct()
    reassembleLines(
      linePositions(df, idCol, textCol)
        .join(marks, Seq(idCol, "pos"), "left"), idCol)
  }

  /** Quantized bigram language-model quality score — the CCNet/KenLM
    * perplexity filter (Wenzek et al. 2020, "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data") re-expressed
    * with EXACT integer arithmetic so the score is bit-identical
    * cross-engine (float log-prob sums are order-dependent and would
    * break the hash oracle). The LM is trained on the scored corpus
    * itself, as CCNet trains on a reference crawl:
    *
    *   q(w1,w2) = floor(log2(c2(w1,w2) + 1)) - floor(log2(c1(w1) + V))
    *
    * — an add-V-smoothed bigram log-probability quantized to whole
    * bits, where c2 = corpus bigram count, c1 = corpus count of w1 as
    * a bigram head, V = corpus vocabulary size; floor(log2(n)) is
    * length(bin(n)) - 1, pure integer in Spark and DuckDB alike. A
    * doc's score sums q over its bigram OCCURRENCES; `keep` holds
    * when the average quantized log-prob clears `keepAvgQx1000`
    * (e.g. -9000 = quantized perplexity under ~2^9), compared by
    * cross-multiplication — no division, no floats anywhere.
    *
    * Shape at 100 TB: the per-doc bigram rollup is computed MAP-ONLY
    * — each doc's tokens live in one row, so its distinct-bigram
    * counts come from ONE pass of the native codegen'd
    * `bigram_counts` expression (O(k) per doc, zero bytes on the
    * wire; see TextHashUtil.bigramCounts for why this beats both the
    * raw-occurrence shuffle AND an interpreted HOF sort) instead of
    * exploding raw occurrences into a shuffle. The only corpus-scale
    * exchange left is the planner-inserted join of the rolled-up
    * (doc, w1, w2, n) frame against the model — and because it is
    * planner-inserted (never a user repartition), AQE's skew-join
    * can split a hot bigram's partition at runtime. c2 aggregates
    * with its natural map-side partial combine (a hot bigram crosses
    * the wire as ONE partial row per task, not one row per
    * occurrence); c1 is a head-vocabulary-sized broadcast off c2, so
    * the model join preserves c2's (w1,w2) partitioning; V is a
    * one-row broadcast; docs under 2 tokens union in rather than
    * left-joining the whole corpus back. Model tables are
    * vocabulary-sized, not corpus-sized. (If the head vocabulary
    * ever outgrows broadcast, flip c1 back to a window over c2 —
    * one extra vocabulary-sized exchange.)
    *
    * ANSI-safe by construction: the token count is
    * coalesce(size(_toks), -1), so a null text routes to the short
    * path (keep = true, 0 bigrams) under BOTH ANSI and legacy
    * configs. Output: idCol, n_bigrams, sum_q2, keep — docs under 2
    * tokens keep with 0 bigrams.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
      keepAvgQx1000: Long = -9000L): DataFrame = {
    val (toks, docBi) = lmTokenize(df, idCol, textCol)
    val c2 = docBi.groupBy(col("_w1"), col("_w2"))
      .agg(sum(col("_n")).as("_c2"))
    val c1 = c2.groupBy(col("_w1")).agg(sum(col("_c2")).as("_c1"))
    val vocab = toks.select(explode(col("_toks")).as("_w"))
      .agg(count_distinct(col("_w")).as("_v"))
    lmScoreCore(idCol, toks, docBi, c2, c1, vocab, keepAvgQx1000)
  }

  /** (all-docs token frame, per-doc distinct-bigram counts) — the
    * shared front end of the LM train and score paths; the rollup is
    * ONE pass of the native codegen'd `bigram_counts` expression.
    */
  private def lmTokenize(df: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    graft.GraftExtensions.register(df.sparkSession)
    val toks = df.select(col(idCol),
        split(col(textCol), " ", -1).as("_toks"))
      .withColumn("_m", coalesce(size(col("_toks")), lit(-1)))
    val docBi = toks.filter(col("_m") >= 2)
      .select(col(idCol), explode(expr("bigram_counts(_toks)")).as("_p"))
      .select(col(idCol), col("_p.w1").as("_w1"), col("_p.w2").as("_w2"),
        col("_p.n").as("_n"))
    (toks, docBi)
  }

  /** The scoring join + per-doc rollup shared by [[bigramLmScore]]
    * (self-trained: every bigram is in-model, the left joins are
    * effectively inner) and [[bigramLmScoreAgainst]] (cross-corpus:
    * out-of-vocabulary bigrams score with c2=0, unseen heads with
    * c1=0 — the same add-V smoothing, extended off the training set).
    */
  private def lmScoreCore(idCol: String, toks: DataFrame, docBi: DataFrame,
      c2: DataFrame, c1: DataFrame, vocab: DataFrame,
      keepAvgQx1000: Long): DataFrame = {
    def fl2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val perDoc = docBi
      .join(c2, Seq("_w1", "_w2"), "left")
      .join(broadcast(c1), Seq("_w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        (col("_n") * (fl2(coalesce(col("_c2"), lit(0L)) + 1) -
          fl2(coalesce(col("_c1"), lit(0L)) + col("_v")))).as("_q"),
        col("_n"))
      .groupBy(col(idCol))
      .agg(sum(col("_q")).as("sum_q2"), sum(col("_n")).as("n_bigrams"))
    val short = toks.filter(col("_m") < 2)
      .select(col(idCol), lit(0L).as("n_bigrams"), lit(0L).as("sum_q2"))
    perDoc.select(col(idCol), col("n_bigrams"), col("sum_q2"))
      .unionByName(short)
      .withColumn("keep",
        col("n_bigrams") === 0 ||
          col("sum_q2") * 1000 >= lit(keepAvgQx1000) * col("n_bigrams"))
  }

  /** Content-defined chunking + cross-document chunk sharing — the
    * rolling-hash (Rabin-style CDC) sibling of the FIXED-window
    * passage dedup (DedupOps.passagePairs): a chunk boundary falls
    * after token i wherever hash60 of the `window`-token gram ending
    * at i is ≡ 0 mod `modulus` (expected chunk length ≈ modulus
    * tokens). Because boundaries depend only on LOCAL content, an
    * insertion near the head of a doc re-chunks ONLY the segment it
    * touches — every downstream chunk re-aligns — where fixed
    * 25-token windows lose every alignment (ClassifySpec-style
    * shift-invariance proof lives in ApiSpec). This is the
    * boundary-shift-robust dedup used on corpora where near-identical
    * docs differ by small edits.
    *
    * Output per doc: idCol, n_chunks (distinct chunk hashes),
    * n_shared (those appearing in >= minDf docs corpus-wide),
    * shared_x1000 — the q70 postings shape: chunks travel as 60-bit
    * hashes, document-frequency aggregates with map-side combine,
    * the common set semi-joins back co-partitioned on the hash, and
    * the final rollup keys the doc id. Docs shorter than `window`
    * tokens are ONE chunk; docs with null text keep their row with 0
    * chunks (left-join re-anchor).
    *
    * Engine parity notes: the Spark side runs the fused native
    * `cdc_chunk_hashes` kernel (TextHashUtil.cdcChunkHashes — the q22
    * lesson; the declarative HOF spelling ran interpreted at
    * ~100us/token); the DuckDB oracle keeps the declarative spelling
    * and the two are bit-identical by construction: a doc shorter
    * than `window` has no boundary (the kernel never forms a gram;
    * the SQL guards `n >= window` because generate_series(a, b) is
    * empty when a > b), and a boundary on the last token cannot emit
    * a phantom empty chunk (the kernel's `end > start` emit guard ==
    * the SQL's segment filter).
    */
  def cdcChunkShares(df: DataFrame, idCol: String, textCol: String,
      modulus: Int = 64, window: Int = 4, minDf: Int = 2): DataFrame = {
    require(modulus >= 2, s"cdcChunkShares: modulus must be >= 2, got $modulus")
    require(window >= 1, s"cdcChunkShares: window must be >= 1, got $window")
    require(minDf >= 2, s"cdcChunkShares: minDf must be >= 2, got $minDf")
    graft.GraftExtensions.register(df.sparkSession)
    // the fused native kernel (boundary hashes + chunk hashes +
    // distinct in one codegen'd static call); the declarative HOF
    // spelling of the same math — still the oracle's spelling — ran
    // interpreted at ~100us/token and cost 61s at sf0.1
    val chunks = df.select(col(idCol),
        split(col(textCol), " ", -1).as("_tk"))
      .withColumn("_ch",
        when(col("_tk").isNotNull,
          expr(s"cdc_chunk_hashes(_tk, $window, $modulus)"))
          .otherwise(expr("cast(array() as array<bigint>)")))
      .select(col(idCol), col("_ch"))
    val posting = chunks.select(col(idCol), explode(col("_ch")).as("_c"))
    val common = posting.groupBy(col("_c"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("_c"))
    val sharedPerDoc = posting.join(common, Seq("_c"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_ns"))
    chunks.select(col(idCol), size(col("_ch")).cast("long").as("n_chunks"))
      .join(sharedPerDoc, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("_ns"), lit(0L)))
      .withColumn("shared_x1000",
        when(col("n_chunks") > 0,
          expr("(n_shared * 1000) div n_chunks")).otherwise(lit(0L)))
      .select(col(idCol), col("n_chunks"), col("n_shared"),
        col("shared_x1000"))
  }

  /** Quantized-integer BM25 top-k retrieval — the ranked keyword
    * search of a curation/eval stack (find the corpus passages most
    * relevant to an eval query, route seed queries to documents),
    * with every arithmetic step in exact int64 so rankings
    * hash-match cross-engine:
    *
    *   - idf(t) = log2((N+1)/df_t) in EXACT milli-bit fixed point
    *     (1024 units per bit): r = ((N+1) << 20) div df, e = fl2(r),
    *     mantissa m = r div 2^(e-10) in [1024, 2048), idf =
    *     (e-20)*1024 + (m-1024) — floor-log2 plus a LINEAR
    *     interpolation within the octave, all int64 (2^(e-10) via
    *     pow-double is exact below 2^53; max error vs true log2
    *     ~0.06%). Whole-bit fl2 idf (the q88 discipline) is too
    *     coarse here: on a shared vocabulary most terms fall in the
    *     same octave and every score collapses to 0.
    *   - tf-saturation in parts-per-thousand with k1 = 1.2, b = 0.75:
    *     denom_x1000 = tf*1000 + 1200 * (250 + (750 * dl * N) div T)
    *     div 1000, where dl = doc tokens, T = corpus tokens (so
    *     dl*N/T is the exact length ratio, floored once)
    *   - contribution = idf * ((tf * 2200 * 1000) div denom_x1000);
    *     score = sum over the query's DISTINCT terms (binary query
    *     weights)
    *
    * Top `k` docs per query by score desc, doc id asc on ties;
    * self-matches excluded. Output: qid, rank, idCol, score.
    *
    * Scale shape: the postings build is one (doc, term) exchange with
    * map-side tf combine off a single corpus scan; df rolls up
    * vocabulary-sized; the query term set is a broadcast (queries
    * are human-scale); scoring joins postings ⋈ query-terms on the
    * term then rolls up (qid, doc) with partial aggregation; the
    * rank is a WindowGroupLimit-prunable row_number per qid. N and T
    * are one-row broadcasts. Nothing corpus-scale ever carries text —
    * terms could travel as hash60s at 100 TB (kept as strings here so
    * the oracle stays readable).
    */
  /** The STATIC half of BM25: per-(term, doc) quantized contributions
    * `_c` (the full bm25TopK arithmetic — milli-bit idf, k1/b
    * saturation — folded into one frame, since idf depends only on
    * the term and tf/dl only on the (term, doc) posting). Built once
    * and localCheckpointed (the in-process stand-in for the persisted
    * inverted index; the postings feed both the df rollup and the
    * contribution projection, so without the cut the corpus pays the
    * tokenize + tf exchange twice — the q91 lesson). N and total
    * tokens are read driver-side at build (one-row agg, the LmGate
    * literal precedent) and enter as literals. Shared VERBATIM by the
    * batch ranker and [[graft.streaming.Bm25Gate]], so stream and
    * batch scores cannot drift. Columns: `_t`, idCol, `_c`.
    */
  /** (N docs, total tokens, max doc length) — the corpus-global BM25
    * stats, computed exactly as the original one-frame build did (N
    * counts null-text rows, tt does not — sum skips nulls — so a
    * fold's merged stats reproduce a from-scratch build bit-for-bit).
    */
  private[graft] def bm25CorpusStats(corpus: DataFrame, idCol: String,
      textCol: String): (Long, Long, Long) = {
    val toks = corpus.select(col(idCol),
      split(col(textCol), " ", -1).as("_tk"))
    val r = toks.agg(count(lit(1)).as("_n"),
      sum(size(col("_tk")).cast("long")).as("_tt"),
      coalesce(max(size(col("_tk")).cast("long")), lit(0L)).as("_mx")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Raw postings (_t, idCol, _dl, _tf) — the stats-free half of the
    * index, from which contributions are recomputable under ANY
    * corpus stats (what makes [[foldIntoBm25Index]] possible: global
    * stats shift with every delta, so `_c` cannot be merged — but
    * postings union and `_c` re-derives at index-size cost).
    */
  private[graft] def bm25Postings(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    corpus.select(col(idCol), split(col(textCol), " ", -1).as("_tk"))
      .select(col(idCol), size(col("_tk")).cast("long").as("_dl"),
        explode(col("_tk")).as("_t"))
      .groupBy(col(idCol), col("_dl"), col("_t"))
      .agg(count(lit(1)).as("_tf"))

  /** The full quantized BM25 arithmetic (milli-bit idf, k1/b
    * saturation) over raw postings + corpus stats — ONE
    * implementation shared by the in-process build and the fold, so
    * a folded index cannot drift from a from-scratch one.
    */
  private[graft] def bm25ContribFromPostings(postings: DataFrame,
      idCol: String, n: Long, tt: Long, maxDl: Long): DataFrame = {
    def fl2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    // The length-norm term computes 750 * _dl * N in int64 before the
    // div; at extreme scale (N ~ 1e11 docs with dl ≳ 2e5-token
    // outliers) that product would wrap 2^63 and silently corrupt
    // scores under non-ANSI arithmetic. Both factors are known at
    // build time, so fail fast here instead — the documented limit is
    // max_dl * N <= 2^63 / 750 (~1.2e16 doc-tokens), beyond which
    // docs must be truncated/split before indexing.
    require(maxDl <= 0 || n <= 0 || maxDl <= Long.MaxValue / 750L / n,
      s"bm25 contrib: 750 * max_dl($maxDl) * N($n) would overflow " +
        "int64 in the length-norm term; truncate or split documents " +
        s"longer than ${Long.MaxValue / 750L / n} tokens before indexing")
    val df_ = postings.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      .withColumn("_r", expr(s"((${n}L + 1) * 1048576) div _df"))
      .withColumn("_e", fl2(col("_r")))
      .withColumn("_m", expr("_r div cast(pow(2d, _e - 10) as bigint)"))
      .withColumn("_idf", expr("(_e - 20) * 1024 + (_m - 1024)"))
      .select(col("_t"), col("_idf"))
    postings.join(broadcast(df_), Seq("_t"))
      .withColumn("_den", expr(
        s"_tf * 1000 + (1200 * (250 + (750 * _dl * ${n}L) div ${tt}L)) div 1000"))
      .select(col("_t"), col(idCol),
        expr("_idf * ((_tf * 2200000) div _den)").as("_c"))
  }

  private[graft] def bm25ContribIndex(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (n, tt, maxDl) = bm25CorpusStats(corpus, idCol, textCol)
    bm25ContribFromPostings(bm25Postings(corpus, idCol, textCol),
      idCol, n, tt, maxDl).localCheckpoint()
  }

  /** Stateless per-query term set: one row per (qid [, extras], term),
    * distinct WITHIN the query row (`array_distinct` — binary query
    * weights with no cross-row distinct, so the same projection is
    * valid on a STREAM). Contract: one input row per query id.
    */
  private[graft] def bm25QueryTerms(queries: DataFrame, qidCol: String,
      textCol: String, extraCols: Seq[String] = Nil): DataFrame =
    queries.select(col(qidCol).as("_qid") +: extraCols.map(col) :+
      explode(array_distinct(split(col(textCol), " ", -1))).as("_t"): _*)

  /** Hybrid retrieval — the modern RAG-stack shape: fuse the LEXICAL
    * ranking ([[bm25TopK]]) with a SEMANTIC ranking (cosine over the
    * model-free [[embedText]] hash embeddings) by reciprocal-rank
    * fusion (Cormack et al. 2009), all integer-deterministic:
    *
    *   rrf(doc) = Σ over lists of 1000000 div (rrfK + rank)
    *
    * with the final top-k by (rrf DESC, id ASC). The semantic leg
    * ranks by the FLOORED micro-cosine (both vectors are embedText
    * unit vectors, so cosine = one `dot_f` left-to-right fold —
    * hash-oracle-exact, the q101/q102 precedent) with id tie-break;
    * zero-signal vectors (no tokens, or fully-cancelled counts) are
    * excluded from the semantic leg on BOTH engines — a signal-less
    * query still gets its full BM25 leg. A doc appearing in only one
    * list scores that list's term alone (standard RRF).
    *
    * Scale shape: the BM25 leg is the contribution-index plan; the
    * semantic leg is a broadcast-query brute-force scan (the ANN
    * baseline — swap in [[graft.api.VectorOps.ivfPqProbe]] over the
    * same embeddings when the corpus outgrows brute force; RRF only
    * consumes (qid, id, rank) so the fusion is retriever-agnostic);
    * fusion itself is one (qid, id)-keyed exchange over 2k rows per
    * query. Output: qid, rank, idCol, rrf.
    */
  def hybridTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, qidCol: String, k: Int = 10, kPerList: Int = 10,
      d: Int = 64, rrfK: Long = 60L): DataFrame = {
    require(k >= 1 && kPerList >= 1,
      s"hybridTopK: k/kPerList must be >= 1, got $k/$kPerList")
    graft.GraftExtensions.register(corpus.sparkSession)
    val lex = bm25TopK(corpus, queries, idCol, textCol, qidCol, kPerList)
      .select(col("qid"), col(idCol).as("_id"), col("rank").as("_r"))
    def signal(df: DataFrame) = df.filter(expr("exists(v, x -> x != 0D)"))
    val ce = signal(embedText(corpus, idCol, textCol, d))
      .select(col(idCol).as("_nid"), col("v").as("_nv"))
    val qe = signal(embedText(queries, qidCol, textCol, d))
      .select(col(qidCol).as("_qid2"), col("v").as("_qv"))
    val sem = broadcast(qe).join(ce, col("_qid2") =!= col("_nid"))
      .select(col("_qid2").as("qid"), col("_nid").as("_id"),
        floor(expr("dot_f(_qv, _nv)") * lit(1000000.0d)).cast("long")
          .as("_sim"))
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("_sim").desc, col("_id").asc)).cast("long"))
      .filter(col("_r") <= kPerList)
      .select(col("qid"), col("_id"), col("_r"))
    rrfFuse(lex, sem, idCol, k, rrfK)
  }

  /** PASSAGE-level retrieval — the RAG shape at chunk granularity:
    * the corpus explodes into fixed-window token chunks ([[chunk]] —
    * map-only Generate, rows never leave their input partition), each
    * chunk becomes a pseudo-doc (id × 100000 + chunk_idx, the q85
    * encoding), chunks and queries embed through the zero-shuffle
    * [[embedText]] kernel, and each query ranks chunks by cosine —
    * so the answer is WHERE in a document the relevant passage sits,
    * not just which document. Chunks of the query's own document are
    * excluded (self-retrieval). Similarities quantize to
    * `floor(sim × 1e6)` BEFORE ranking (the hybridTopK discipline:
    * integer ranks are cross-engine-exact), ties to the smaller
    * chunk id.
    *
    * This brute leg is the correctness baseline; at 100 TB the
    * chunk vectors feed [[VectorOps.writeIvfPqIndex]] exactly as doc
    * vectors do (the q114 swap — chunks are just more rows), so the
    * scale path needs no new machinery.
    *
    * Output: (qidCol, rank, idCol, chunk_idx, sim_x1e6).
    */
  def passageTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, qidCol: String, k: Int = 10,
      chunkTokens: Int = 32, stride: Int = 32, d: Int = 64): DataFrame = {
    require(k >= 1, s"passageTopK: k must be >= 1, got $k")
    graft.GraftExtensions.register(corpus.sparkSession)
    val chunks = chunk(corpus, idCol, textCol, chunkTokens, stride)
      .select((col(idCol) * lit(100000L) + col("chunk_idx")).as("_cid"),
        col("chunk_text").as("_ctext"))
    def signal(df: DataFrame) = df.filter(expr("exists(v, x -> x != 0D)"))
    val cv = signal(embedText(chunks, "_cid", "_ctext", d))
      .select(col("_cid"), col("v").as("_cv"))
    val qv = signal(embedText(queries, qidCol, textCol, d))
      .select(col(qidCol).as("_qid2"), col("v").as("_qv"))
    broadcast(qv).join(cv, col("_qid2") =!= expr("_cid div 100000"))
      .select(col("_qid2").as(qidCol), col("_cid"),
        floor(expr("dot_f(_qv, _cv)") * lit(1000000.0d)).cast("long")
          .as("sim_x1e6"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(qidCol))
          .orderBy(col("sim_x1e6").desc, col("_cid").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"),
        expr("_cid div 100000").as(idCol),
        expr("_cid % 100000").as("chunk_idx"), col("sim_x1e6"))
  }

  /** [[passageTopK]]'s scale-side leg made literal: queries probe a
    * PERSISTED IVF-PQ index built over the CHUNK vectors (chunks are
    * just more rows to [[VectorOps.writeIvfPqIndex]] — the q114 swap
    * at passage granularity), shortlist the top-`refine` candidates
    * by ADC-approximate cosine inside only the routed cell
    * directories, then EXACT-rerank the shortlist (the q94 ADC +
    * refine shape — short-chunk embeddings make raw ADC ranks
    * noisier than doc-level, so the refine step is load-bearing
    * here: measured per-query brute overlap at sf0.1 rose from 0–5
    * of 10 raw to 6–10 of 10 refined at nprobe=5). The chunk
    * pseudo-id decodes back to (doc, chunk); own-document chunks are
    * excluded exactly as the brute leg excludes them. Retrieval is
    * still approximate (routing bounds recall), so catalog
    * verification is the in-band overlap posture against the brute
    * output (q114/q99 precedent).
    *
    * The index MUST be written with
    * [[VectorOps.writeIvfPqIndex]]`(..., storeVectors = true)`: the
    * exact-refine leg joins the shortlist against the index's STORED
    * chunk vectors (cell-pruned to the batch's routed cells — the
    * same isin-literal pruning the codes scan gets), never
    * re-chunking or re-embedding the corpus. At 100 TB the old
    * recompute shape was a full-corpus scan-and-embed PER RETRIEVAL
    * BATCH; the stored-vector join touches `nprobe/nCells` of the
    * vectors parquet instead. A vectors-less index fails with
    * [[VectorOps.readIvfPqVectors]]'s named rebuild-once error.
    *
    * Output: (qidCol, rank, idCol, chunk_idx, sim_x1e6).
    */
  def passageTopKIvfPq(queries: DataFrame,
      idCol: String, textCol: String, qidCol: String,
      ivfPqIndexPath: String, k: Int = 10, nprobe: Int = 5,
      refine: Int = 100,
      d: Int = 64, adcX1000Threshold: Int = -2000): DataFrame = {
    require(k >= 1 && refine >= k,
      s"passageTopKIvfPq: need 1 <= k <= refine, got k=$k refine=$refine")
    val s = queries.sparkSession
    graft.GraftExtensions.register(s)
    // the probe addresses both sides by the INDEX's id column (the
    // codes parquet was written with the chunk pseudo-id _cid)
    val qe = embedText(queries, qidCol, textCol, d)
      .filter(expr("exists(v, x -> x != 0D)"))
    val (probe, cells, _) = VectorOps.ivfPqProbeAndCells(
      qe.select(col(qidCol).as("_cid"), col("v")), "_cid", "v",
      ivfPqIndexPath, adcX1000Threshold, nprobe)
    val shortlist = probe
      .filter(col("vec_new") =!= expr("vec_old div 100000"))
      .withColumn("_arn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_new"))
          .orderBy(col("asim_x1000").desc, col("vec_old").asc)))
      .filter(col("_arn") <= refine)
      .select(col("vec_new"), col("vec_old"))
    // exact refine of the refine·|queries|-row shortlist (the q94 ADC +
    // refine shape): true chunk vectors come from the index's STORED
    // vectors parquet, pruned to the SAME routed cells the probe's
    // codes scan used (one derivation — ivfPqProbeAndCells — so the
    // two prunings cannot diverge); every shortlisted id lives in a
    // routed cell by construction, so the pruned read is lossless.
    // Quantizing the exact sims identically to [[passageTopK]] makes
    // the refined ranks tie-stable against the brute baseline (stored
    // vectors are the embed kernel's exact doubles, so the dots are
    // bit-identical to recomputing).
    val cvec = VectorOps.readIvfPqVectors(s, ivfPqIndexPath)
      .filter(col("cell").isin(cells: _*))
      .select(col("vid").as("vec_old"), col("vec").as("_cv"))
    val qvec = qe.select(col(qidCol).as("_qid2"), col("v").as("_qv"))
    broadcast(shortlist).join(cvec, Seq("vec_old"))
      .join(broadcast(qvec), col("vec_new") === col("_qid2"))
      .select(col("vec_new").as(qidCol), col("vec_old"),
        floor(expr("dot_f(_qv, _cv)") * lit(1000000.0d)).cast("long")
          .as("sim_x1e6"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(qidCol))
          .orderBy(col("sim_x1e6").desc, col("vec_old").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"),
        expr("vec_old div 100000").as(idCol),
        expr("vec_old % 100000").as("chunk_idx"), col("sim_x1e6"))
  }

  /** The reciprocal-rank fusion shared by [[hybridTopK]] and
    * [[hybridTopKIvfPq]] — RRF consumes only (qid, _id, _r), so the
    * fusion is retriever-agnostic by construction: ONE implementation
    * means the scale-side retriever swap cannot drift the fused
    * ranking semantics.
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, idCol: String,
      k: Int, rrfK: Long): DataFrame =
    lex.unionByName(sem)
      .groupBy(col("qid"), col("_id"))
      .agg(sum(expr(s"1000000 div (${rrfK}L + _r)")).as("rrf"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("_id").as(idCol), col("rrf"))

  /** [[hybridTopK]] with the semantic leg probing a PERSISTED IVF-PQ
    * index ([[VectorOps.writeIvfPqIndex]] over the corpus's
    * [[embedText]] vectors) instead of the brute broadcast corpus
    * scan — the 100-TB deployment shape: the brute leg dots EVERY
    * corpus vector against every query (correct at small SF, a
    * scale-killer at 100×), while the probe routes each query to
    * `nprobe` of the index's cells and ADC-scans m-byte codes inside
    * ONLY those partition directories (literal pruning; the q99
    * plan). Candidates rank per query by ADC-approximate cosine — RRF
    * is rank-based, so approximate ranks degrade recall gracefully
    * rather than corrupting scores, and the fusion itself is the
    * SHARED [[rrfFuse]] (retriever-agnostic by construction). The
    * lexical leg is unchanged. Oracle posture (q114): in-band overlap
    * floor vs the brute fused ranking, the q99 recall-floor
    * precedent; a PlanSpec assertion pins the absence of any
    * nested-loop join against the corpus.
    */
  def hybridTopKIvfPq(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qidCol: String,
      ivfPqIndexPath: String, k: Int = 10, kPerList: Int = 10,
      d: Int = 64, rrfK: Long = 60L, nprobe: Int = 2,
      adcX1000Threshold: Int = -2000): DataFrame = {
    require(k >= 1 && kPerList >= 1,
      s"hybridTopKIvfPq: k/kPerList must be >= 1, got $k/$kPerList")
    graft.GraftExtensions.register(corpus.sparkSession)
    val lex = bm25TopK(corpus, queries, idCol, textCol, qidCol, kPerList)
      .select(col("qid"), col(idCol).as("_id"), col("rank").as("_r"))
    rrfFuse(lex, semanticLeg(queries, qidCol, textCol, ivfPqIndexPath,
      idCol, kPerList, d, nprobe, adcX1000Threshold), idCol, k, rrfK)
  }

  /** The IVF-PQ semantic leg shared by [[hybridTopKIvfPq]] and
    * [[hybridTopKAgainstIndexes]] — embed → zero-vector filter →
    * cell-pruned ADC probe → per-query kPerList rank cut, emitting the
    * (qid, _id, _r) triple [[rrfFuse]] consumes. ONE implementation
    * (the [[bm25Rank]] discipline for the lexical back half), so
    * q141's exact row-for-row parity between the two deployment
    * shapes is structural, not edit-parallel. ivfPqProbe addresses
    * both sides by the INDEX's id column (the codes parquet was
    * written with the corpus idCol), so the query embeddings adopt it
    * for the probe; the probe outputs renamed columns
    * (vec_new/vec_old) either way.
    */
  private def semanticLeg(queries: DataFrame, qidCol: String,
      textCol: String, ivfPqIndexPath: String, idCol: String,
      kPerList: Int, d: Int, nprobe: Int,
      adcX1000Threshold: Int): DataFrame = {
    val qe = embedText(queries, qidCol, textCol, d)
      .filter(expr("exists(v, x -> x != 0D)"))
      .select(col(qidCol).as(idCol), col("v"))
    VectorOps.ivfPqProbe(qe, idCol, "v", ivfPqIndexPath,
        adcX1000Threshold, nprobe)
      .filter(col("vec_new") =!= col("vec_old"))
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_new"))
          .orderBy(col("asim_x1000").desc, col("vec_old").asc)).cast("long"))
      .filter(col("_r") <= kPerList)
      .select(col("vec_new").as("qid"), col("vec_old").as("_id"), col("_r"))
  }

  /** The full 100-TB hybrid-retrieval deployment shape as ONE call:
    * BOTH legs probe persisted indexes — lexical via
    * [[bm25TopKAgainstIndex]] (prefix-pruned contrib/postings scan +
    * query-sized broadcast join, never the corpus) and semantic via
    * [[graft.api.VectorOps.ivfPqProbe]] over a persisted IVF-PQ
    * (cell-directory-pruned ADC scan), fused by the SHARED
    * [[rrfFuse]]. No corpus frame appears anywhere in the plan: a
    * retrieval batch touches only the two indexes' pruned slices, so
    * per-batch cost is query-shaped — the q108/q99 probe postures
    * composed. Because [[bm25TopKAgainstIndex]] scores identically to
    * the in-process [[bm25TopK]] over the same corpus (the
    * fold==rebuild q108 contract) and the semantic leg is the SHARED
    * [[semanticLeg]], the fused ranking is ROW-FOR-ROW equal to
    * [[hybridTopKIvfPq]] on that corpus — ApiSpec pins the parity, so
    * the deployment shape can never drift from the catalog-gated one.
    * Output: qid, rank, idCol, rrf.
    */
  def hybridTopKAgainstIndexes(queries: DataFrame, qidCol: String,
      textCol: String, bm25IndexPath: String, ivfPqIndexPath: String,
      idCol: String, k: Int = 10, kPerList: Int = 10, d: Int = 64,
      rrfK: Long = 60L, nprobe: Int = 2,
      adcX1000Threshold: Int = -2000): DataFrame = {
    require(k >= 1 && kPerList >= 1,
      s"hybridTopKAgainstIndexes: k/kPerList must be >= 1, got $k/$kPerList")
    graft.GraftExtensions.register(queries.sparkSession)
    val lex = bm25TopKAgainstIndex(queries, qidCol, textCol,
        bm25IndexPath, idCol, kPerList)
      .select(col("qid"), col(idCol).as("_id"), col("rank").as("_r"))
    rrfFuse(lex, semanticLeg(queries, qidCol, textCol, ivfPqIndexPath,
      idCol, kPerList, d, nprobe, adcX1000Threshold), idCol, k, rrfK)
  }

  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, qidCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"bm25TopK: k must be >= 1, got $k")
    bm25Rank(bm25ContribIndex(corpus, idCol, textCol),
      bm25QueryTerms(queries, qidCol, textCol), idCol, k)
  }

  /** The scoring+ranking back half shared by [[bm25TopK]] (in-process
    * index) and [[bm25TopKAgainstIndex]] (persisted index): contrib
    * index ⋈ broadcast query terms → (qid, doc) rollup → pruned rank.
    */
  private def bm25Rank(idx: DataFrame, qTerms: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val scored = idx
      .join(broadcast(qTerms), Seq("_t"))
      .filter(col("_qid") =!= col(idCol))
      .groupBy(col("_qid"), col(idCol))
      .agg(sum(col("_c")).as("score"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_qid"))
          .orderBy(col("score").desc, col(idCol).asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_qid").as("qid"), col("rank"), col(idCol), col("score"))
  }

  /** The BM25 index family — the retrieval deployment posture:
    * `contrib` = (term, doc, quantized contribution) and `postings` =
    * the raw (term, doc, tf, dl) postings, both partitioned by
    * `__bp = hash60(term) mod prefix_partitions` and sorted by `_t`;
    * meta = (prefix_partitions, n, tt, max_dl, layers). BM25's
    * global-stats problem — every baked `_c` changes when ANY document
    * arrives — is solved by NOT baking on a fold: a fold appends only
    * the delta's postings and merges the corpus stats in meta, and
    * `contrib` is a [[IndexMaintenance.Reconcile.Rebake]] of the
    * postings: while the index is layered the probe derives
    * contributions from the PRUNED postings + meta stats through the
    * verbatim [[bm25ContribFromPostings]] arithmetic (df per term is
    * exact over a pruned directory: `__bp` partitions by term hash, so
    * a touched directory holds EVERY posting of each term in it), and
    * compaction rebakes it (the LSM posture: append daily, rebake
    * weekly). Postings reconcile as a set — one row per (doc, term) —
    * so a retried fold's duplicate run cannot double a term's df.
    */
  private[graft] val Bm25Index = {
    val prefix = Some("__bp" -> TextHashing.hash60(col("_t")))
    IndexMaintenance.Family("BM25", "writeBm25Index",
      Seq("prefix_partitions", "n", "tt", "max_dl"),
      "prefix geometry, corpus stats and layer count",
      IndexMaintenance.Manifest.Layers,
      _ => Seq(
        IndexMaintenance.Table("contrib", Seq("_t"), 8,
          IndexMaintenance.Reconcile.Rebake("postings", (p, m) =>
            bm25ContribFromPostings(p, idColOf(p), m.long("n"), m.long("tt"),
              m.long("max_dl"))), prefix),
        IndexMaintenance.Table("postings", Seq("_t"), 8,
          IndexMaintenance.Reconcile.SetUnion(), prefix)))
  }

  /** Materialize [[bm25ContribIndex]] to parquet ([[Bm25Index]]'s
    * layout). Build once per corpus version; every query batch probes
    * with [[bm25TopKAgainstIndex]], whose query-term prefixes prune the
    * contrib parquet to the directories they can hit — a handful of
    * query terms read a handful of directories, never the index.
    */
  def writeBm25Index(corpus: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val (n, tt, maxDl) = bm25CorpusStats(corpus, idCol, textCol)
    IndexMaintenance.write(corpus.sparkSession, path, Bm25Index,
      "n" -> n, "tt" -> tt, "max_dl" -> maxDl)(_ => IndexMaintenance.Delta(
      "postings" -> bm25Postings(corpus, idCol, textCol)))
  }

  /** One fold's rows: the delta's raw postings (disjoint doc ids) and
    * the merged corpus stats (N counts null-text docs, tt skips them —
    * both sides computed the same way, so they add exactly). */
  private def bm25Rows(delta: DataFrame, idCol: String,
      textCol: String)(m: IndexMaintenance.Meta): IndexMaintenance.Delta = {
    val (dn, dtt, dMax) = bm25CorpusStats(delta, idCol, textCol)
    IndexMaintenance.Delta("postings" -> bm25Postings(delta, idCol, textCol))
      .withMeta("n" -> (m.long("n") + dn), "tt" -> (m.long("tt") + dtt),
        "max_dl" -> math.max(m.long("max_dl"), dMax))
  }

  /** Fold a DELTA of new documents into a persisted [[writeBm25Index]]
    * IN PLACE with O(delta) write bytes: the delta's raw postings land
    * as their own sorted run, the merged stats land in meta, and
    * `layers > 1` tells the probe the baked `contrib/` is STALE. Probe
    * work grows only by the per-touched-term df agg — still O(query
    * terms + pruned scan), never O(index). Crash consistency:
    * [[DedupOps.foldIntoMinhashIndex]]'s contract (a crash between the
    * postings append and the meta write leaves layers at its old
    * count, so a single-run index keeps probing its baked contrib).
    */
  def foldIntoBm25Index(delta: DataFrame, idCol: String, textCol: String,
      indexPath: String): Unit = {
    IndexMaintenance.fold(delta.sparkSession, indexPath, Bm25Index,
      "foldIntoBm25Index")(bm25Rows(delta, idCol, textCol))
    ()
  }

  /** Fold-and-COMPACT: the postings union re-baked under the merged
    * stats into a fresh single-run index at `outPath` — an INDEX-sized
    * rewrite instead of a CORPUS-sized re-tokenization. A folded index
    * probes identically to `writeBm25Index(corpus ∪ delta)` (ApiSpec
    * parity). Meta without stats (a pre-fold index) fails loudly:
    * rebuild once.
    */
  def foldIntoBm25Index(delta: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.foldTo(delta.sparkSession, indexPath, outPath,
      Bm25Index, "foldIntoBm25Index")(bm25Rows(delta, idCol, textCol))

  /** [[DedupOps.maintainMinhashIndex]]'s BM25 twin: O(delta) fold,
    * then compact-and-swap iff post-fold layers ≥ `compactThreshold`.
    * Returns true when this fold triggered the compaction.
    */
  def maintainBm25Index(delta: DataFrame, idCol: String, textCol: String,
      indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.maintain(delta.sparkSession, indexPath, Bm25Index,
      "maintainBm25Index", compactThreshold)(
      bm25Rows(delta, idCol, textCol)).contains(true)

  /** Compact a layered BM25 index: rebake `contrib/` from the full
    * postings with the meta's merged stats (restoring the baked-score
    * fast probe), re-lay the postings runs into one, reset layers=1 —
    * O(index) read/write. Identical probe results before and after
    * (bake-at-compact == derive-at-probe, same
    * [[bm25ContribFromPostings]] arithmetic).
    */
  def compactBm25Index(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, Bm25Index,
      "compactBm25Index")

  /** The postings' doc-id column name: postings are (_t, <id>, _tf,
    * _dl) with the id column the only non-underscore-prefixed one —
    * compaction reads postings off parquet, where the original
    * caller's idCol name is whatever the build wrote.
    */
  private def idColOf(postings: DataFrame): String =
    postings.columns.find(c => !c.startsWith("_")).getOrElse(
      throw new IllegalStateException(
        "bm25 postings carry no doc-id column " +
          s"(columns: ${postings.columns.mkString(", ")})"))

  /** [[bm25TopK]] probing a PERSISTED [[writeBm25Index]] instead of
    * building the index in-process: identical output on the same
    * corpus (parity-tested), per-batch cost O(query terms + pruned
    * index scan). The query set's distinct `__bp` prefixes prune the
    * contrib (or, while layered, postings) parquet; the `_t` sort
    * prunes row groups within the touched directories. The meta is
    * REQUIRED (it carries the prefix geometry and stats).
    */
  def bm25TopKAgainstIndex(queries: DataFrame, qidCol: String,
      textCol: String, indexPath: String, idCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"bm25TopKAgainstIndex: k must be >= 1, got $k")
    val s = queries.sparkSession
    val op = "bm25 index probe"
    val m = IndexMaintenance.readMeta(s, indexPath, Bm25Index, op)
    val qTerms = bm25QueryTerms(queries, qidCol, textCol).localCheckpoint()
    val touched = IndexMaintenance.prefixesOf(qTerms,
      TextHashing.hash60(col("_t")), m)
    bm25Rank(IndexMaintenance.read(s, indexPath, Bm25Index, m, "contrib",
        op, Some(touched)).select(col("_t"), col(idCol), col("_c")),
      qTerms, idCol, k)
  }
  /** Train the quantized bigram LM on `corpus` and return it as ONE
    * vocabulary-sized frame (w1, w2, c2, c1, v) — the persistable
    * artifact of the "train on a reference corpus once, score every
    * ingest batch" deployment ([[bigramLmScoreAgainst]] is the score
    * side; the pair is the model-space twin of
    * [[DedupOps.writeMinhashIndex]] / minhashPairsAgainstIndex).
    * c2 = corpus count of the bigram, c1 = corpus count of w1 as a
    * bigram head (constant per w1), v = corpus vocabulary size
    * (constant). Rows are bigram TYPES, never corpus-sized.
    */
  def bigramLmModel(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (toks, docBi) = lmTokenize(corpus, idCol, textCol)
    val c2 = docBi.groupBy(col("_w1"), col("_w2"))
      .agg(sum(col("_n")).as("_c2"))
    val c1 = c2.groupBy(col("_w1")).agg(sum(col("_c2")).as("_c1"))
    val vocab = toks.select(explode(col("_toks")).as("_w"))
      .agg(count_distinct(col("_w")).as("_v"))
    c2.join(broadcast(c1), Seq("_w1")).crossJoin(broadcast(vocab))
      .select(col("_w1").as("w1"), col("_w2").as("w2"),
        col("_c2").as("c2"), col("_c1").as("c1"), col("_v").as("v"))
  }

  /** Score `df` against a PRE-TRAINED [[bigramLmModel]] frame — the
    * daily-ingest shape: the model is built once per reference-corpus
    * version (typically persisted to parquet) and every delta batch
    * pays only its own map-only rollup plus vocabulary-sized joins.
    * Out-of-vocabulary bigrams take c2=0; bigrams with an unseen head
    * take c1=0 (add-V smoothing extended off the training set —
    * exactly the CCNet posture, where the scored crawl is NOT the LM
    * training corpus). Same output contract as [[bigramLmScore]]:
    * idCol, n_bigrams, sum_q2, keep.
    *
    * Pass a MATERIALIZED model (a parquet read, or
    * `.localCheckpoint()` on a fresh one): the score plan consumes it
    * three ways (bigram counts, head counts, vocabulary), so a lazily
    * derived model frame would re-run its whole training subtree per
    * consumer.
    */
  def bigramLmScoreAgainst(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, keepAvgQx1000: Long = -9000L): DataFrame = {
    val (toks, docBi) = lmTokenize(df, idCol, textCol)
    val c2 = model.select(col("w1").as("_w1"), col("w2").as("_w2"),
      col("c2").as("_c2"))
    val c1 = model.select(col("w1").as("_w1"), col("c1").as("_c1")).distinct()
    val vocab = model.select(max(col("v")).as("_v"))
    lmScoreCore(idCol, toks, docBi, c2, c1, vocab, keepAvgQx1000)
  }

  /** Score `df` against TWO pre-trained [[bigramLmModel]]s in ONE
    * corpus pass — the DSIR log-likelihood-ratio shape (q93), where
    * the two per-model scores of every doc are immediately differenced.
    * Value-identical to two [[bigramLmScoreAgainst]] passes joined on
    * the id (each per-bigram term uses its own model's c2/c1/v with
    * the same add-V smoothing and left-join misses), but the corpus
    * side pays ONE tokenize + bigram rollup, ONE (w1, w2) exchange and
    * ONE per-doc aggregation instead of two of each plus a doc-level
    * join (guide §2.4 share-one-exchange / §2.3 fewer passes): the two
    * models' bigram tables are full-outer-joined into one lookup frame
    * (vocabulary-sized; per-model keys stay unique so no row
    * multiplies) and both quantized scores ride the same rollup.
    * Output: idCol, n_bigrams, sum_q2_a, sum_q2_b (0-bigram docs keep
    * their rows with zeros, as in [[bigramLmScoreAgainst]]).
    */
  private[graft] def bigramLmScoreAgainstPair(df: DataFrame, idCol: String,
      textCol: String, modelA: DataFrame, modelB: DataFrame): DataFrame = {
    val (toks, docBi) = lmTokenize(df, idCol, textCol)
    def fl2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val c2 = modelA.select(col("w1").as("_w1"), col("w2").as("_w2"),
        col("c2").as("_c2a"))
      .join(modelB.select(col("w1").as("_w1"), col("w2").as("_w2"),
        col("c2").as("_c2b")), Seq("_w1", "_w2"), "full_outer")
    val c1a = modelA.select(col("w1").as("_w1"), col("c1").as("_c1a"))
      .distinct()
    val c1b = modelB.select(col("w1").as("_w1"), col("c1").as("_c1b"))
      .distinct()
    val va = modelA.select(max(col("v")).as("_va"))
    val vb = modelB.select(max(col("v")).as("_vb"))
    val perDoc = docBi
      .join(c2, Seq("_w1", "_w2"), "left")
      .join(broadcast(c1a), Seq("_w1"), "left")
      .join(broadcast(c1b), Seq("_w1"), "left")
      .crossJoin(broadcast(va)).crossJoin(broadcast(vb))
      .select(col(idCol),
        (col("_n") * (fl2(coalesce(col("_c2a"), lit(0L)) + 1) -
          fl2(coalesce(col("_c1a"), lit(0L)) + col("_va")))).as("_qa"),
        (col("_n") * (fl2(coalesce(col("_c2b"), lit(0L)) + 1) -
          fl2(coalesce(col("_c1b"), lit(0L)) + col("_vb")))).as("_qb"),
        col("_n"))
      .groupBy(col(idCol))
      .agg(sum(col("_qa")).as("sum_q2_a"), sum(col("_qb")).as("sum_q2_b"),
        sum(col("_n")).as("n_bigrams"))
    val short = toks.filter(col("_m") < 2)
      .select(col(idCol), lit(0L).as("n_bigrams"),
        lit(0L).as("sum_q2_a"), lit(0L).as("sum_q2_b"))
    perDoc.select(col(idCol), col("n_bigrams"), col("sum_q2_a"),
        col("sum_q2_b"))
      .unionByName(short)
  }

  /** Deterministic feature-hashing text embedding (the hashing trick,
    * Weinberger et al. 2009): every token lands in dimension
    * `hash60(token) % d` with sign from an independent hash bit, the
    * signed counts are L2-normalized — a MODEL-FREE unit embedding
    * that makes every vector operator in this library (cosine ANN,
    * banded-LSH near-dup, PQ/IVF-PQ indexes, SemDeDup keepers) apply
    * to a raw TEXT corpus with no external encoder. Near-duplicate
    * texts share almost all tokens, so they embed almost parallel —
    * exactly the property the semantic-dedup stack needs.
    *
    * Output: idCol, `v` (array<double>, unit L2 norm; all-zero for a
    * token-less or fully-sign-cancelled doc — NaNs never escape).
    * Integer signed counts are exact and order-independent; the one
    * float step (x / sqrt(Σx²)) is a single IEEE op per dim, so
    * quantized projections hash-match DuckDB (the q53 floor
    * precedent).
    *
    * ZERO exchanges: the whole embedding is the native `hash_embed`
    * kernel — one codegen'd pass per row, value-identical to the
    * former explode → (id,dim) rollup → per-id assembly spelling
    * (TextHashLawsSpec pins the law; the q101/q102/q103 hash oracles
    * gate it). A map-only projection is also what makes a STREAMING
    * frame embeddable statelessly (no groupBy state). Null text keeps
    * its row with the zero vector (row preservation,
    * config-independent).
    */
  def embedText(df: DataFrame, idCol: String, textCol: String,
      d: Int = 64): DataFrame = {
    require(d > 0, s"embedText: d must be positive, got $d")
    graft.GraftExtensions.register(df.sparkSession)
    val zero = s"transform(sequence(0, ${d - 1}), i -> 0.0D)"
    df.select(col(idCol),
      when(col(textCol).isNotNull,
          call_function("hash_embed",
            split(col(textCol), " ", -1), lit(d)))
        .otherwise(expr(zero)).as("v"))
  }
}
