package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, shingling, quality scoring, language ID, fingerprinting.
  *
  * All pure `Column` combinators over built-ins — they fuse into the scan's
  * whole-stage codegen and never leave the JVM (no UDF serialization), which
  * is what makes a 100 TB document sweep CPU-bound instead of
  * serialization-bound.
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish token count: runs of alphanumerics or single non-space symbols
    * (a cheap proxy for subword token counts over clean text).
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z0-9]+|[^a-z0-9 ]"))

  /** Distinct n-word shingles from an ALREADY-MATERIALIZED token-array
    * column, via the native [[graft.expressions.Shingles]] kernel (the
    * higher-order-function formulation is interpreted and ~10× slower).
    * Taking the token array (not the text) also matters: a lambda over
    * `split(text)` would re-evaluate the split per shingle.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.expressions.Shingles(GraftSqlBridge.expression(toks), n))
  }

  /** EVERY n-word gram with multiplicity, positional order — the
    * vector-space-model unit (Dedup.tokenCosinePairs). Same native kernel
    * as [[shinglesFromTokens]] minus the dedup; the built-in
    * transform/sequence formulation is interpreted and ~10× slower.
    */
  def gramsFromTokens(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.expressions.Shingles(
      GraftSqlBridge.expression(toks), n, distinct = false))
  }

  /** Distinct n-word shingles ("a b c" style), the MinHash/Jaccard unit.
    * Documents shorter than n tokens get an empty set. Prefer
    * [[shinglesFromTokens]] inside pipelines that already split.
    */
  def shingles(text: Column, n: Int = 3): Column = shinglesFromTokens(tokens(text), n)

  private val StopWords = Seq("the", "and", "of", "is", "in", "to", "a")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, w => w.isin(StopWords: _*))).cast("double") / size(t)
  }

  /** Fraction of characters that are punctuation/symbols (0 for the empty
    * document — ANSI mode makes a bare /length(text) throw on "").
    */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[^a-z0-9 ]")).cast("double") / length(text))

  /** Mean token length in characters (spaces excluded). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / size(tokens(text))

  /** Composite quality score in [0,1]: length credit + stopword naturalness,
    * penalized by symbol noise — the length/punct/stopword heuristic family
    * used to filter web corpora.
    */
  def qualityScore(text: Column): Column = {
    val lenCredit = least(size(tokens(text)).cast("double") / 100.0, lit(1.0))
    val stopCredit = least(stopwordRatio(text) * 5.0, lit(1.0))
    greatest(lit(0.0), lenCredit * 0.5 + stopCredit * 0.5 - punctRatio(text))
  }

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "in", "to"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans"))

  /** Marker-token language ID (n-gram-free heuristic): count language-
    * specific function words, argmax with a fixed preference order so ties
    * are deterministic.
    */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val scores = LangMarkers.map { case (lang, ws) =>
      lang -> size(filter(t, w => w.isin(ws: _*)))
    }
    val Seq(en, es, de, fr) = scores.map(_._2)
    when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** OpenRefine-style structural fingerprint: md5 of the sorted distinct
    * token set — whitespace/order/duplication-insensitive document identity.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Overlapping token-window chunks — the context-window packing op of a
    * training pipeline: windows of `size` tokens advancing by
    * `size - overlap`, last partial window kept. Chunk i covers tokens
    * [i*stride, i*stride+size).
    */
  def chunkTokens(toks: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > overlap && overlap >= 0, "need chunkSize > overlap >= 0")
    val stride = chunkSize - overlap
    val nChunks = greatest(ceil((size(toks) - lit(overlap)).cast("double") / stride), lit(1.0))
    transform(sequence(lit(0), (nChunks - 1).cast("int")),
      i => array_join(slice(toks, i * stride + 1, lit(chunkSize)), " "))
  }

  /** PII masking for training corpora: emails, long digit runs (phone/SSN/
    * card shapes), and IPv4 literals replaced with typed placeholder tokens.
    * Pure regexp_replace chain — codegen'd, order-stable (emails first so
    * their digits don't half-match the number rule).
    */
  def maskPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{7,}\\b", "<NUMBER>")
  }

  /** Luhn checksum validity of a digit string (ISO/IEC 7812 mod-10) — the
    * filter that separates card-shaped digit runs that could be real PANs
    * from mere long numbers, so PII triage escalates the former and not
    * every invoice id. Walking from the RIGHT, every second digit doubles
    * (casting out nines); valid iff the digit sum ≡ 0 (mod 10). Pure
    * integer arithmetic in a fixed fold — bit-free of floats, so the
    * verdict is engine-exact by construction. Input must be digits-only
    * (extract with a regex first); a non-digit cast fails loudly under
    * ANSI rather than mis-validating. The empty string is `false` by an
    * explicit guard (Spark's `sequence(1, 0)` defaults to step −1 and
    * yields `[1, 0]`, so the unguarded fold would walk bogus positions
    * and return NULL instead); NULL input stays NULL.
    */
  def luhnValid(num: Column): Column = {
    val n = length(num)
    val total = aggregate(
      transform(sequence(lit(1), n), i => {
        val d = num.substr(n - i + 1, lit(1)).cast("int")
        when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)
    when(n === 0, lit(false)).otherwise(total % 10 === 0)
  }

  /** 64-bit content fingerprint: min of rolling shingle hashes (winnowing
    * with window = whole doc). Engine-internal (xxhash64-based) — compare
    * only against itself.
    */
  def minShingleHash(text: Column, n: Int = 3): Column =
    array_min(transform(shingles(text, n), s => xxhash64(s)))

  /** Fraction of tokens that repeat an earlier token — the duplicate-token
    * half of the Gopher/C4-style repetition filters (high values flag
    * boilerplate and degenerate generations).
    */
  def dupTokenRatio(text: Column): Column = {
    val t = tokens(text)
    lit(1.0) - size(array_distinct(t)).cast("double") / size(t)
  }

  /** Fraction of n-gram positions whose n-gram occurred earlier in the doc
    * (0 when the doc is shorter than n tokens) — the duplicate-n-gram half
    * of the repetition filter family.
    */
  def dupShingleRatio(text: Column, n: Int = 3): Column = {
    val total = greatest(size(tokens(text)) - lit(n - 1), lit(0))
    when(total === 0, lit(0.0))
      .otherwise(lit(1.0) - size(shingles(text, n)).cast("double") / total)
  }

  /** Gopher/C4-style quality-rule cascade: the ordered rejection rules a
    * web-corpus filter applies before training, each named so rejects can
    * be ACCOUNTED per rule (the per-rule reject histogram is how such
    * filters are tuned). Thresholds are corpus-calibrated knobs, not
    * constants of nature — these defaults discriminate on the synthetic
    * corpus (each length/stopword/repetition rule fires on a real tail)
    * while `too_symbolic` exists for hostile input and is pinned by test.
    *
    * Every rule is a pure column predicate over ratios whose double
    * arithmetic is bit-identical cross-engine (same building blocks as
    * [[qualityScore]]), so the verdicts are oracle-comparable. Single
    * scan, no shuffle, whole-stage codegen.
    */
  def cascadeRules(text: Column): Seq[(String, Column)] = Seq(
    "too_short"     -> (size(tokens(text)) < 20),
    "bad_token_len" -> (avgTokenLen(text) < 4.0 || avgTokenLen(text) > 5.2),
    "too_symbolic"  -> (punctRatio(text) > 0.1),
    "low_stopword"  -> (stopwordRatio(text) < 0.02),
    "repetitive"    -> (dupShingleRatio(text, n = 3) > 0.01))

  /** Character-distribution quality faces, all integer-exact: char count,
    * Σ cnt(c)² over distinct characters, and the top character's count.
    * Collision (Rényi-2) entropy is −log₂(Σcnt²/n²) and the Gopher-style
    * top-character fraction is top/n — both monotone in these exact
    * integers, so entropy/repetition thresholds apply engine-exactly with
    * no transcendentals in the compared face. One pass of codegen'd
    * higher-order functions over the char array (corpus alphabet ~30
    * symbols → O(|Σ|·n) per row), no shuffle, no UDF. Chars come from
    * `regexp_extract_all('[\s\S]')`, not `split("")`, which keeps a
    * trailing-empty artifact of Java's split(limit=-1) out of the counts.
    */
  def charCollisionFaces(text: Column): Column = {
    val chs = regexp_extract_all(text, lit("[\\s\\S]"), lit(0))
    val cnts = transform(array_distinct(chs),
      c => size(filter(chs, x => x === c)).cast("long"))
    struct(
      size(chs).cast("long").as("n_chars_m"),
      coalesce(aggregate(cnts, lit(0L), (a, c) => a + c * c), lit(0L))
        .as("char_sq_sum"),
      coalesce(array_max(cnts), lit(0L)).as("top_char_cnt"))
  }

  /** Canonical URL — the crawl-dedup key: the same logical page arrives
    * under many raw spellings (case-shifted scheme/host, explicit default
    * port, `www.` prefix, shuffled query params, tracking params,
    * fragments), and URL-keyed dedup/frontier logic needs them to collide.
    * Normalizations, all standards-sanctioned (RFC 3986 §6 + the de-facto
    * utm strip): lowercase scheme+host, drop `:80`/`:443` for http/https,
    * drop a leading `www.`, drop the fragment, drop `utm_*` params, sort
    * the remaining params byte-wise. Pure codegen'd string ops — regex
    * extracts + one array sort per row, no shuffle; the regexes are
    * RE2-compatible so any engine reproduces the key byte-for-byte.
    * Path/param percent-encoding is preserved as-is (normalizing it needs
    * a decode table; byte-wise equality of encoded forms is the safe key).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]*)", 1))
    val path = regexp_extract(url, "^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val noPort = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val host = regexp_replace(noPort, "^www\\.", "")
    // literal-prefix test, not LIKE 'utm_%': '_' is a LIKE single-char
    // wildcard, so the LIKE form also drops utmX=/utm1=-style params and
    // collapses genuinely distinct URLs to one dedup key
    val params = array_join(array_sort(filter(split(query, "&"),
      p => substring(p, 1, 4) =!= "utm_" && p =!= "")), "&")
    concat(scheme, lit("://"), host, path,
      when(params =!= "", concat(lit("?"), params)).otherwise(lit("")))
  }

  /** Name of the first cascade rule that fires, null when the doc passes —
    * "first" in the declared rule order, which makes reject accounting
    * deterministic regardless of evaluation order.
    */
  def firstReject(rules: Seq[(String, Column)]): Column =
    rules.foldRight(lit(null).cast("string")) {
      case ((name, cond), acc) => when(cond, lit(name)).otherwise(acc)
    }
}
