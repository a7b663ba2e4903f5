package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar operators for the LLM-data-pipeline surface
  * (charter extension; SURVEY §7.4.6): tokenization, quality scoring,
  * language-ID heuristic, fingerprinting, shingling.
  *
  * Everything is a pure Catalyst expression tree (split / filter /
  * transform / regexp_count) — codegen'd, no UDFs, and each has an exact
  * ANSI-SQL equivalent so the DuckDB oracle can verify it.
  */
object TextFunctions {

  /** Evaluate `value` exactly once per row and reference it as a lambda
    * variable inside `f`. Without this, Catalyst re-inlines a subexpression
    * into every use site — a tokenization referenced inside a per-element
    * lambda would re-run for EVERY element (measured 25× slowdown on the
    * shingle pipeline). */
  def bind(value: Column)(f: Column => Column): Column =
    element_at(transform(array(value), f), 1)

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Fraction of tokens that are in `stopwords` (duplicates counted). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    bind(tokens(text)) { tk =>
      when(size(tk) === 0, lit(0.0))
        .otherwise(size(filter(tk, t => array_contains(sw, t))).cast("double") / size(tk))
    }
  }

  /** Punctuation density per character. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[^a-zA-Z0-9\\s]")).cast("double") / length(text))

  /** Heuristic quality score in [0,1]: rewards mid-length docs, penalizes
    * punctuation soup and ultra-short tokens — the standard cheap pre-filter
    * for LLM corpus cleaning (cf. C4/Gopher rules). */
  def qualityScore(text: Column): Column =
    bind(tokenCount(text)) { nTok =>
      val meanTokLen = when(nTok === 0, lit(0.0))
        .otherwise(length(regexp_replace(text, "\\s+", "")).cast("double") / nTok)
      val lenScore = least(nTok.cast("double") / 50.0, lit(1.0))
      val tokScore = when(meanTokLen >= 3.0 && meanTokLen <= 10.0, lit(1.0)).otherwise(lit(0.5))
      val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
      round((lenScore * 0.4 + tokScore * 0.3 + punctScore * 0.3), 6)
    }

  /** Language-ID by stopword-hit voting: argmax over per-language stopword
    * hit counts; falls back to `fallback` when nothing matches. */
  def langIdHeuristic(text: Column,
      profiles: Map[String, Seq[String]],
      fallback: String = "und"): Column =
    bind(tokens(text)) { tk =>
      val scored = profiles.toSeq.sortBy(_._1).map { case (lang, sws) =>
        val sw = array(sws.map(lit): _*)
        struct(size(filter(tk, t => array_contains(sw, t))).as("hits"),
          lit(lang).as("lang"))
      }
      val best = array_max(array(scored: _*))
      when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit(fallback))
    }

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set — dedups re-ordered/duplicated boilerplate. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** fastText-style linear quality classifier (`bag of hashed n-grams →
    * linear layer → sigmoid`, cf. Joulin et al. 2016): features are word
    * unigrams + bigrams, each feature's weight is a deterministic function
    * of its own md5 (first 4 hex digits as an int, centered to (−1,1)) —
    * i.e. the weight TABLE is the hash function, so the classifier needs
    * no lookup join and the whole score is one codegen'd map-side pass:
    * sigmoid(mean feature weight). The md5-derived weights stand in for
    * trained parameters exactly like the other portable fixtures; swapping
    * in real weights means replacing [[featWeight]]'s arithmetic with a
    * broadcast array index. Empty docs score sigmoid(0) = 0.5. */
  def hashedClassifierScore(text: Column): Column = {
    def hexVal(c: Column): Column =
      ascii(c) - when(c >= "a", lit(87)).otherwise(lit(48))
    def featWeight(f: Column): Column = bind(md5(f)) { h =>
      val bucket = ((hexVal(substring(h, 1, 1)) * 16 +
        hexVal(substring(h, 2, 1))) * 16 +
        hexVal(substring(h, 3, 1))) * 16 +
        hexVal(substring(h, 4, 1))
      (bucket.cast("double") - 32767.5) / 32768.0
    }
    bind(tokens(text)) { tk =>
      val bigrams = when(size(tk) >= 2,
        transform(sequence(lit(1), size(tk) - 1),
          i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
        .otherwise(array().cast("array<string>"))
      bind(concat(tk, bigrams)) { feats =>
        val wsum = aggregate(feats, lit(0.0), (acc, f) => acc + featWeight(f))
        when(size(feats) === 0, lit(0.5))
          .otherwise(lit(1.0) / (lit(1.0) + exp(-(wsum / size(feats)))))
      }
    }
  }

  // ---- PII redaction (charter: corpus curation). Patterns deliberately
  // ---- use only the regex subset common to Java and RE2 (no lookaround,
  // ---- no backrefs) so any engine — including the DuckDB oracle —
  // ---- reproduces matches exactly.

  /** Email address pattern. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** NANP-style phone pattern (ddd-ddd-dddd). */
  val phoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Dotted-quad IPv4 pattern. */
  val ipv4Re = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** Scrub emails, phone numbers and IPv4 addresses with typed
    * placeholders. Emails are replaced FIRST: their local/domain parts can
    * contain dotted digit runs that the IPv4 pattern would otherwise eat
    * mid-address; the placeholders themselves contain no digits or dots,
    * so later passes can't touch earlier replacements. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipv4Re, "<IP>")

  /** URL host (lowercased) — scheme://HOST[/...]. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z]+://([^/?#]+)", 1))

  /** URL path (no query/fragment). */
  def urlPath(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)

  /** Canonical URL — the dedup key of every web-corpus pipeline (the
    * same page arrives as http/https, with/without www, with tracking
    * params and trailing slashes): normalize scheme to https, lowercase
    * the host, strip a leading `www.`, drop query/fragment entirely,
    * strip the trailing slash. RE2-safe regexes, whole chain codegens. */
  def canonicalUrl(url: Column): Column =
    concat(lit("https://"),
      regexp_replace(urlHost(url), "^www\\.", ""),
      regexp_replace(urlPath(url), "/$", ""))

  /** Strip HTML/XML markup from scraped text — the first stage of every
    * web-corpus pipeline (the extract step of a WET/CC-style run): drop
    * tags (`<...>` → space so adjacent words don't fuse), decode the
    * six ubiquitous entities, collapse whitespace. Entity order matters
    * and is part of the contract: `&lt;`/`&gt;`/`&quot;`/`&#39;`/
    * `&nbsp;` first, `&amp;` LAST — decoding `&amp;` first would turn
    * `&amp;lt;` into `<` (double-decode), and a late `&lt;` → `<` can
    * never resurrect a tag because tag-stripping already ran. RE2-safe
    * patterns, plain `replace` for entities — whole chain codegens. */
  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        replace(c, lit(from), lit(to))
      }
    trim(regexp_replace(decoded, " +", " "))
  }

  /** Word n-gram shingles ("a b c", n=2 → ["a b","b c"]); empty when the
    * doc has fewer than n tokens. */
  def shingles(text: Column, n: Int): Column =
    bind(tokens(text)) { tk =>
      when(size(tk) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
    }

  /** Canonical text normalization — the first stage of every dedup /
    * fingerprint / tokenize pipeline (matching-sensitive ops want one
    * canonical form so "Foo,  bar!" and "foo bar" collide): lowercase,
    * non-alphanumerics → space, whitespace collapsed, trimmed. RE2-safe
    * character classes; pure codegen'd regexp chain. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "),
      " +", " "))
}
