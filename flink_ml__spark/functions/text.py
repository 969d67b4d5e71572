"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north-star): language ID,
quality scoring, token counting, document fingerprinting — each designed
as pure Spark SQL expressions (no UDFs) so they whole-stage-codegen over a
100 TB documents table, and each deliberately expressible in ANSI SQL so
the duckdb oracle can replay them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator, HasInputCol, HasOutputCol

# small, fixed stopword profiles per language; scoring = number of distinct
# profile words present in the document (deterministic argmax, tie → order
# below). Keep the lists lowercase and regex-free so Spark and the SQL
# oracle tokenize identically.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ich", "ein", "zu", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "vous", "une", "pour"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "por", "con", "para"],
    "it": ["il", "di", "che", "la", "per", "una", "sono", "non", "con", "del"],
}

TOKEN_SPLIT = "[^a-zA-Z0-9']+"


class LanguageIdentifier(AlgoOperator, HasInputCol, HasOutputCol):
    """N-gram/stopword-profile language ID.

    Appends ``outputCol`` (language code string, 'und' when no profile
    word matches). Tokenize → distinct → count intersection with each
    profile → argmax with deterministic tie-breaking (profile order).
    """

    _defaults = dict(inputCol="text", outputCol="lang_pred")

    def transform(self, df: DataFrame) -> DataFrame:
        toks = F.array_distinct(
            F.split(F.lower(F.col(self.getInputCol())), TOKEN_SPLIT))
        scores = {
            lang: F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in words])))
            for lang, words in LANG_PROFILES.items()
        }
        best = None
        best_score = None
        # build right-to-left so earlier profiles win ties
        langs = list(LANG_PROFILES)
        expr = F.lit("und")
        best_score = F.greatest(*scores.values())
        for lang in reversed(langs):
            expr = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(expr)
        expr = F.when(best_score <= 0, F.lit("und")).otherwise(expr)
        return df.withColumn(self.getOutputCol(), expr)


class QualityScorer(AlgoOperator, HasInputCol):
    """Heuristic document-quality signals + composite score.

    Appends: ``n_chars_q`` (length), ``n_tokens_q``, ``alpha_ratio``,
    ``punct_ratio``, ``stopword_ratio``, ``quality_score`` in [0, 1].
    All ratios are plain length arithmetic — identical in any SQL engine.
    """

    PUNCT = r"[.,!?;:]"

    _defaults = dict(inputCol="text")

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.getInputCol())
        n_chars = F.length(text)
        toks = F.split(F.lower(text), TOKEN_SPLIT)
        toks = F.filter(toks, lambda t: t != "")
        n_tokens = F.size(toks)
        alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
        punct = F.length(text) - F.length(F.regexp_replace(text, self.PUNCT, ""))
        stop = F.size(F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])))
        denom = F.greatest(n_chars, F.lit(1))
        out = (df
               .withColumn("n_chars_q", n_chars)
               .withColumn("n_tokens_q", n_tokens)
               .withColumn("alpha_ratio", alpha / denom)
               .withColumn("punct_ratio", punct / denom)
               .withColumn("stopword_ratio",
                           stop / F.greatest(n_tokens, F.lit(1))))
        score = (
            F.least(F.col("n_tokens_q") / F.lit(20.0), F.lit(1.0)) * 0.3
            + F.col("alpha_ratio") * 0.4
            + F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0)) * 0.2
            + (1 - F.least(F.col("punct_ratio") * F.lit(10.0), F.lit(1.0))) * 0.1
        )
        return out.withColumn("quality_score", score)


class GopherQualityFilter(AlgoOperator, HasInputCol):
    """Gopher rule-based document filter (Rae et al., "Scaling Language
    Models: Methods, Analysis & Insights from Training Gopher", 2021,
    §A1.1): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio cap, minimum fraction of words containing an alphabetic
    character, and a minimum number of distinct required stop words.

    Appends the per-rule measurements plus the verdict::

        gopher_n_words         bigint
        gopher_mean_word_len   double   (non-whitespace chars / words)
        gopher_symbol_ratio    double   (# / ellipsis per word)
        gopher_alpha_word_frac double
        gopher_stop_hits       int      (distinct stop words present)
        gopher_pass            boolean

    Pure codegen — length arithmetic and regexp counts, no HOF
    aggregation loops, no Python — so the pass pipelines with the scan
    and runs unchanged on streams. NULL text ≡ empty document (0
    words, fails the floor).
    """

    minWords = Param(Params._dummy(), "minWords", "word-count floor",
                     TypeConverters.toInt)
    maxWords = Param(Params._dummy(), "maxWords", "word-count ceiling",
                     TypeConverters.toInt)
    minMeanWordLen = Param(Params._dummy(), "minMeanWordLen",
                           "mean word length floor",
                           TypeConverters.toFloat)
    maxMeanWordLen = Param(Params._dummy(), "maxMeanWordLen",
                           "mean word length ceiling",
                           TypeConverters.toFloat)
    maxSymbolRatio = Param(Params._dummy(), "maxSymbolRatio",
                           "max (# + ellipsis) per word",
                           TypeConverters.toFloat)
    minAlphaWordFrac = Param(Params._dummy(), "minAlphaWordFrac",
                             "min fraction of words with an alphabetic "
                             "character", TypeConverters.toFloat)
    minStopHits = Param(Params._dummy(), "minStopHits",
                        "min distinct required stop words present",
                        TypeConverters.toInt)
    stopWords = Param(Params._dummy(), "stopWords",
                      "the required stop-word set",
                      TypeConverters.toListString)

    # the paper's thresholds and stop set (§A1.1)
    _defaults = dict(inputCol="text", minWords=50, maxWords=100000,
                     minMeanWordLen=3.0, maxMeanWordLen=10.0,
                     maxSymbolRatio=0.1, minAlphaWordFrac=0.8,
                     minStopHits=2,
                     stopWords=["the", "be", "to", "of", "and",
                                "that", "have", "with"])

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.coalesce(F.col(self.getInputCol()), F.lit(""))
        words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
        n = F.size(words)
        n1 = F.greatest(n, F.lit(1))
        # mean word length without a HOF fold: non-whitespace chars
        mean_len = (F.length(F.regexp_replace(text, r"\s", ""))
                    .cast("double") / n1)
        symbols = F.regexp_count(text, F.lit(r"#|\.\.\.|…"))
        sym_ratio = symbols.cast("double") / n1
        alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        alpha_frac = alpha.cast("double") / n1
        stop_hits = F.size(F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(w) for w in self.getOrDefault(self.stopWords)])))
        ok = ((n >= self.getOrDefault(self.minWords))
              & (n <= self.getOrDefault(self.maxWords))
              & (mean_len >= self.getOrDefault(self.minMeanWordLen))
              & (mean_len <= self.getOrDefault(self.maxMeanWordLen))
              & (sym_ratio <= self.getOrDefault(self.maxSymbolRatio))
              & (alpha_frac >= self.getOrDefault(self.minAlphaWordFrac))
              & (stop_hits >= self.getOrDefault(self.minStopHits)))
        return (df
                .withColumn("gopher_n_words", n.cast("bigint"))
                .withColumn("gopher_mean_word_len", mean_len)
                .withColumn("gopher_symbol_ratio", sym_ratio)
                .withColumn("gopher_alpha_word_frac", alpha_frac)
                .withColumn("gopher_stop_hits", stop_hits)
                .withColumn("gopher_pass", ok))


class TokenCounter(AlgoOperator, HasInputCol, HasOutputCol):
    """Whitespace + BPE-ish token counts.

    Appends ``outputCol`` (whitespace token count) and
    ``<outputCol>_bpe`` — a sub-word-ish count using a regex that splits
    words, numbers and punctuation runs apart (an approximation of a BPE
    pre-tokenizer; the real tokenizer is out of scope in this container).
    """

    BPE_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"

    _defaults = dict(inputCol="text", outputCol="n_tokens")

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.getInputCol())
        # NULL text counts as 0 tokens — without the guard, non-ANSI
        # size(split(NULL)) yields -1, which would silently shift every
        # later document's offset in SequencePacker
        ws = F.when(text.isNull(), F.lit(0)).otherwise(
            F.size(F.filter(F.split(text, r"\s+"), lambda t: t != "")))
        bpe = F.when(text.isNull(), F.lit(0)).otherwise(
            F.size(F.regexp_extract_all(text, F.lit(self.BPE_PATTERN), 0)))
        return (df.withColumn(self.getOutputCol(), ws)
                .withColumn(f"{self.getOutputCol()}_bpe", bpe))


class PiiRedactor(AlgoOperator, HasInputCol, HasOutputCol):
    """PII scrubbing for training corpora: replaces emails, IPv4
    addresses, long id-like digit runs, and phone numbers with typed
    placeholder tokens, and appends per-category match counts.

    Pure codegen (`regexp_replace`/`regexp_count` — no UDFs), so the
    pass pipelines with the scan at 100 TB. Patterns are deliberately
    RE2-compatible (no lookaround) so the DuckDB oracle replays them
    verbatim. Replacement is SEQUENTIAL (email → ip → id → phone) and
    each category is counted on the text as it stands when its pass
    runs, so e.g. digits inside an already-redacted email cannot be
    double-counted as a phone number.
    """

    # (pattern, token, count column suffix), applied in order
    PATTERNS = [
        (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}",
         "<EMAIL>", "emails"),
        (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>", "ips"),
        (r"\b\d{9,}\b", "<ID>", "ids"),
        (r"\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}\b",
         "<PHONE>", "phones"),
    ]

    _defaults = dict(inputCol="text", outputCol="text_redacted")

    def __init__(self):
        super().__init__()
        self._patterns = list(self.PATTERNS)

    def setPatterns(self, patterns):
        """Replace the redaction set with user-supplied ``(pattern,
        token, name)`` triples — e.g. SSNs, API keys, internal
        hostnames — applied in the given order under the same
        sequential-count contract as the defaults (each category
        counted on the text as redacted so far, emitted as
        ``n_pii_<name>``). Keep patterns RE2-compatible (no lookaround)
        if SQL-oracle replay matters."""
        pats = [tuple(p) for p in patterns]
        if not pats or any(len(p) != 3 for p in pats):
            raise ValueError(
                "patterns must be non-empty (pattern, token, name) triples")
        self._patterns = pats
        return self

    def getPatterns(self):
        return list(self._patterns)

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.getInputCol())
        cur = text
        counts = []
        for pat, tok, name in self._patterns:
            # NULL text → 0 matches (not NULL), same contract as
            # TokenCounter; the redacted text itself stays NULL
            counts.append((f"n_pii_{name}",
                           F.when(text.isNull(), F.lit(0)).otherwise(
                               F.regexp_count(cur, F.lit(pat)))))
            cur = F.regexp_replace(cur, pat, tok)
        out = df.withColumn(self.getOutputCol(), cur)
        for name, c in counts:
            out = out.withColumn(name, c)
        return out


class Fingerprinter(AlgoOperator, HasInputCol, HasOutputCol):
    """Deterministic document fingerprint: md5 of the case/whitespace
    normalized text (md5 is available in every engine, so the oracle can
    reproduce it bit-for-bit)."""

    _defaults = dict(inputCol="text", outputCol="fingerprint")

    @staticmethod
    def normalized(col):
        return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))

    def transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.getOutputCol(),
            F.md5(self.normalized(F.col(self.getInputCol()))))


class WinnowingFingerprinter(AlgoOperator, HasInputCol, HasOutputCol):
    """Local document fingerprints by winnowing (Schleimer, Wilkerson &
    Aiken, "Winnowing: local algorithms for document fingerprinting",
    SIGMOD 2003): hash every k-character gram of the lowercased text,
    then keep the minimum hash of each window of w consecutive grams —
    a position-robust fingerprint set that survives local edits, unlike
    the whole-document :class:`Fingerprinter`.

    Gram hashes are the engine-portable 60-bit md5 prefix (same family
    as the dedup operators), so the DuckDB oracle reproduces the exact
    fingerprint sets; the pass is one Arrow-batched map (no shuffle).
    Output: sorted distinct ``array<bigint>``.
    """

    gramSize = Param(Params._dummy(), "gramSize",
                     "characters per gram (k)", TypeConverters.toInt)
    windowSize = Param(Params._dummy(), "windowSize",
                       "grams per winnow window (w)", TypeConverters.toInt)

    _defaults = dict(inputCol="text", outputCol="fingerprints",
                     gramSize=5, windowSize=4)

    def transform(self, df: DataFrame) -> DataFrame:
        import hashlib

        import numpy as np

        k = self.getGramSize()
        w = self.getWindowSize()

        @F.pandas_udf("array<long>")
        def winnow(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                if t is None:
                    # NULL text → empty fingerprint set (matches the SQL
                    # oracle's NULL branch; pairs with nothing downstream)
                    out.append([])
                    continue
                s = t.lower()
                grams = ([s[i:i + k] for i in range(len(s) - k + 1)]
                         if len(s) >= k else [s])
                hs = np.array([
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    for g in grams], dtype=np.int64)
                if len(hs) <= w:
                    fps = {int(hs.min())}
                else:
                    view = np.lib.stride_tricks.sliding_window_view(hs, w)
                    fps = set(view.min(1).tolist())
                out.append(sorted(fps))
            return pd.Series(out)

        from flink_ml__spark.base import ensure_min_parallelism

        # the per-gram md5 pass is the heaviest Python map in the text
        # family — spread few-split sources before it
        return ensure_min_parallelism(df).withColumn(
            self.getOutputCol(), winnow(F.col(self.getInputCol())))


class QualityFilter(AlgoOperator, HasInputCol):
    """Keep documents whose composite quality score clears a threshold —
    the filter stage a training-data pipeline chains after scoring.
    Appends the :class:`QualityScorer` columns and filters on
    ``quality_score >= minScore`` (codegen end-to-end; the predicate
    sits directly above the scan for pushdown-friendly plans)."""

    minScore = Param(Params._dummy(), "minScore",
                     "minimum quality_score to keep",
                     TypeConverters.toFloat)

    _defaults = dict(inputCol="text", minScore=0.5)

    def transform(self, df: DataFrame) -> DataFrame:
        scored = (QualityScorer()
                  ._set(inputCol=self.getInputCol()).transform(df))
        return scored.filter(F.col("quality_score") >= self.getMinScore())


class TextNormalizer(AlgoOperator, HasInputCol, HasOutputCol):
    """Deterministic text canonicalization — the pass a curation
    pipeline runs before hashing, dedup and tokenization so that
    near-identical documents ("Hello  World\\n" vs "hello world")
    collapse to one canonical form (cf. the normalization step of CCNet,
    Wenzek et al., LREC 2020 §3, and the MinHash preprocessing of
    RefinedWeb, Penedo et al., 2023 §3.3).

    Appends ``outputCol`` (the normalized text) and
    ``<outputCol>_chars`` (its length, 0 for NULL input):

    * optional lowercasing (``lowercase``, default on);
    * whitespace unification: runs of space/tab/newline/CR/FF collapse
      to one space (an explicit character class — Java ``\\s`` and RE2
      ``\\s`` disagree on vertical tab, so the oracle would diverge);
    * optional punctuation strip (``stripPunct``): keep only
      ``[a-z0-9 ']`` (plus uppercase when not lowercasing) — the
      aggressive form used before shingling;
    * trim of leading/trailing spaces.

    NULL text stays NULL (every engine propagates NULL through
    ``lower``/``regexp_replace`` identically); the length column is
    guarded to 0 per the TokenCounter convention.

    100 TB design: pure Catalyst expressions, map-only, whole-stage
    codegen, streaming-compatible; no shuffle, no Python.
    """

    WS = "[ \\t\\n\\r\\f]+"

    lowercase = Param(Params._dummy(), "lowercase",
                      "lowercase the text first", TypeConverters.toBoolean)
    stripPunct = Param(Params._dummy(), "stripPunct",
                       "drop every char outside [a-zA-Z0-9 ']",
                       TypeConverters.toBoolean)

    _defaults = dict(inputCol="text", outputCol="text_norm",
                     lowercase=True, stripPunct=False)

    def setLowercase(self, v):
        return self._set(lowercase=bool(v))

    def setStripPunct(self, v):
        return self._set(stripPunct=bool(v))

    def transform(self, df: DataFrame) -> DataFrame:
        t = F.col(self.getInputCol())
        if self.getLowercase():
            t = F.lower(t)
        # whitespace first: stripping punctuation earlier would delete
        # \t/\n (they match [^a-zA-Z0-9 ']) and weld words across lines
        t = F.regexp_replace(t, self.WS, " ")
        if self.getStripPunct():
            t = F.regexp_replace(t, "[^a-zA-Z0-9 ']", "")
        t = F.trim(t)
        out = self.getOutputCol()
        return (df
                .withColumn(out, t)
                .withColumn(f"{out}_chars",
                            F.coalesce(F.length(t), F.lit(0))))


class MarkupStripper(AlgoOperator, HasInputCol, HasOutputCol):
    """HTML/markup removal — the first pass every web-crawl curation
    pipeline runs (cf. the extraction stage of C4, Raffel et al. 2020
    §2.2, and RefinedWeb, Penedo et al. 2023 §3.1; this is the
    post-extraction scrub for text that still carries tags).

    Appends ``outputCol`` (the cleaned text) plus ``n_tags_removed``.
    Sequential passes, each a codegen expression:

    1. ``<script>``/``<style>`` elements drop WITH their content
       (``(?s)`` dotall so the block may span lines);
    2. HTML comments ``<!-- ... -->`` drop with content;
    3. every remaining ``<...>`` tag drops (counted as
       ``n_tags_removed``, measured AFTER the content-dropping passes
       so script-internal markup isn't double-counted);
    4. a fixed entity set unescapes literally — ``&lt; &gt; &quot;
       &#39; &nbsp;`` then ``&amp;`` LAST (unescaping it earlier
       would re-activate entities it had been escaping);
    5. whitespace runs collapse to one space, ends trimmed.

    All patterns are RE2-compatible (no lookaround, no backrefs) so
    the DuckDB oracle replays them verbatim. NULL text stays NULL;
    the count is 0 for NULL (TokenCounter convention).

    100 TB design: map-only whole-stage-codegen projection — no
    shuffle, no Python, streaming-compatible unchanged.
    """

    # two separate element patterns — a single alternation would need
    # a backreference for the closing tag, which RE2 (the oracle's
    # regex engine) does not support
    SCRIPT = r"(?is)<script\b[^>]*>.*?</script\s*>"
    STYLE = r"(?is)<style\b[^>]*>.*?</style\s*>"
    COMMENT = r"(?s)<!--.*?-->"
    TAG = r"<[^>]*>"
    # literal (entity, replacement) pairs, applied in order; &amp; LAST
    ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]

    _defaults = dict(inputCol="text", outputCol="text_clean")

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.getInputCol())
        cur = F.regexp_replace(text, self.SCRIPT, " ")
        cur = F.regexp_replace(cur, self.STYLE, " ")
        cur = F.regexp_replace(cur, self.COMMENT, " ")
        # the detagged intermediate lands in a named column so the
        # count and the continued rewrite share ONE evaluation of the
        # three content-dropping passes (reusing the Column object
        # would re-embed them — the ScriptProfiler duplication class)
        out = df.withColumn("__detag", cur)
        detag = F.col("__detag")
        n_tags = F.when(text.isNull(), F.lit(0)).otherwise(
            F.regexp_count(detag, F.lit(self.TAG)))
        cur = F.regexp_replace(detag, self.TAG, " ")
        for ent, rep in self.ENTITIES:
            cur = F.replace(cur, F.lit(ent), F.lit(rep))
        cur = F.trim(F.regexp_replace(cur, "[ \\t\\n\\r\\f]+", " "))
        return (out.withColumn(self.getOutputCol(), cur)
                   .withColumn("n_tags_removed", n_tags)
                   .drop("__detag"))


class ScriptProfiler(AlgoOperator, HasInputCol):
    """Unicode-script composition of each document — the signal
    language-ID gates and mixed-script spam filters key on (a "latin"
    document that is 40% CJK is mislabeled or junk).

    Appends per-script character fractions (of NON-whitespace chars)
    plus the dominant script label::

        latin_frac cyrillic_frac cjk_frac arabic_frac digit_frac
        other_frac   double, each in [0, 1]
        dominant     the largest of the five script classes
                     ('latin'|'cyrillic'|'cjk'|'arabic'|'other',
                     ties to that order), or NULL when no class
                     matched anything (empty/NULL text, or pure
                     digit text — digits are script-neutral)

    Script classes are explicit BMP ranges (Latin incl. Latin-1/Ext-A,
    Cyrillic U+0400–04FF, CJK unified + hiragana/katakana/Hangul,
    Arabic U+0600–06FF) — deliberately simple, replayable in RE2.

    100 TB design: one ``regexp_count`` per class over a map-only
    projection — no shuffle, no Python, streaming-compatible.
    """

    CLASSES = [
        ("latin", "[A-Za-z\\u00C0-\\u024F]"),
        ("cyrillic", "[\\u0400-\\u04FF]"),
        ("cjk", "[\\u4E00-\\u9FFF\\u3040-\\u30FF\\uAC00-\\uD7AF]"),
        ("arabic", "[\\u0600-\\u06FF]"),
        ("digit", "[0-9]"),
    ]

    _defaults = dict(inputCol="text")

    def transform(self, df: DataFrame) -> DataFrame:
        # each regexp_count lands in its OWN named column, and every
        # downstream expression references the column by attribute:
        # reusing the raw Column objects instead would re-embed the
        # regexp subtree at every use site (the dominant arbitration
        # alone references each fraction ~6×), and the duplicated
        # regex evaluation made the first version of this operator
        # ~4× slower than the counting itself
        text = F.col(self.getInputCol())
        out = df.withColumn(
            "__n_base", F.regexp_count(F.coalesce(text, F.lit("")),
                                       F.lit("[^ \\t\\n\\r\\f]")))
        for name, cls in self.CLASSES:
            out = out.withColumn(
                f"__n_{name}",
                F.regexp_count(F.coalesce(text, F.lit("")), F.lit(cls)))
        base = F.col("__n_base")
        for name, _cls in self.CLASSES:
            out = out.withColumn(
                f"{name}_frac",
                F.when(base > 0, F.col(f"__n_{name}") / base)
                 .otherwise(F.lit(0.0)))
        other = F.when(
            base > 0,
            F.greatest(F.lit(0.0),
                       F.lit(1.0) - sum(F.col(f"{n}_frac")
                                        for n, _ in self.CLASSES))
            ).otherwise(F.lit(0.0))
        out = out.withColumn("other_frac", other)
        # dominant among the script classes (digits are script-neutral)
        scripts = ["latin", "cyrillic", "cjk", "arabic"]
        best = F.greatest(*[F.col(f"{s}_frac") for s in scripts],
                          F.col("other_frac"))
        dom = F.lit(None).cast("string")
        for s in reversed(scripts + ["other"]):
            dom = (F.when(best == F.col(f"{s}_frac"), F.lit(s))
                    .otherwise(dom))
        # best == 0 means NO class matched anything (pure digit/punct-
        # free digit text) — labeling that 'latin' via the tie-break
        # would misfeed language-ID gates, so it gets NULL like empty
        out = out.withColumn(
            "dominant",
            F.when((base > 0) & (best > 0), dom).otherwise(F.lit(None)))
        return out.drop("__n_base",
                        *[f"__n_{n}" for n, _ in self.CLASSES])


class PhraseMatcher(AlgoOperator, HasInputCol):
    """Token-sequence phrase matching against a dictionary — the
    blocklist/benchmark/keyword scan every curation pipeline runs
    (toxic-phrase filters, benchmark-title decontamination, policy
    blocklists). Matches are WORD-BOUNDARY exact: the phrase's token
    sequence must appear as consecutive document tokens (case folded
    via the shared ``TOKEN_SPLIT`` tokenizer), so "ring" never fires
    inside "boring".

    ``match(df)`` returns one row per (document, phrase) hit::

        <idCol>, phrase, n_occurrences

    ``n_occurrences`` counts non-overlapping left-to-right matches
    (``str.count`` semantics on the normalized token string: two
    back-to-back repeats of the same phrase share a delimiter and
    count once — presence, the blocklist signal, is exact).

    ``transform(df)`` is the filter form: drops every document with
    at least one hit (blocklist semantics, one anti join).

    100 TB design (dictionary-join, not per-phrase expressions): both
    sides normalize to a space-delimited token string; candidates come
    from an equi-join of the document's DISTINCT tokens against the
    phrases' FIRST tokens — the dictionary can hold 100k phrases
    without the plan growing, unlike a chained `contains` per phrase
    — and the exact consecutive-sequence check is a codegen substring
    residual (occurrences counted by length arithmetic, no UDF). The
    phrase table is dimension-sized -> broadcast join.
    """

    idCol = Param(Params._dummy(), "idCol", "document id column",
                  TypeConverters.toString)

    _defaults = dict(inputCol="text", idCol="doc_id")

    def __init__(self, phrases: list[str] | None = None):
        super().__init__()
        self._phrases = list(phrases or [])

    def setPhrases(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        if not v:
            raise ValueError("phrase list must be non-empty")
        self._phrases = [str(p) for p in v]
        return self

    def getPhrases(self) -> list[str]:
        return list(self._phrases)

    @staticmethod
    def _norm_tokens(col):
        """' tok1 tok2 ... ' — delimited so a substring hit IS a
        consecutive token-sequence hit."""
        toks = F.filter(F.split(F.lower(col), TOKEN_SPLIT),
                        lambda t: t != "")
        return F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))

    def _phrase_frame(self, spark):
        import re

        rows = []
        for p in self._phrases:
            toks = [t for t in re.split(TOKEN_SPLIT, p.lower()) if t]
            if toks:
                rows.append((p, toks[0], " " + " ".join(toks) + " "))
        if not rows:
            raise ValueError("no phrase tokenizes to anything")
        return spark.createDataFrame(
            rows, "phrase string, __first string, __needle string")

    def match(self, df: DataFrame) -> DataFrame:
        if not self._phrases:
            raise ValueError("no phrases set — call setPhrases(...)")
        idc = self.getOrDefault(self.idCol)
        col = self.getInputCol()
        phrases = F.broadcast(self._phrase_frame(df.sparkSession))

        norm = (df.filter(F.col(col).isNotNull())
                  .select(F.col(idc),
                          self._norm_tokens(F.col(col)).alias("__norm")))
        # candidate generation: distinct doc tokens ⋈ phrase first
        # tokens — output-bound, no per-phrase plan growth
        cand = (norm
                .withColumn("__tok", F.explode(F.array_distinct(
                    F.filter(F.split(F.trim(F.col("__norm")), " "),
                             lambda t: t != ""))))
                .join(phrases, F.col("__tok") == F.col("__first"))
                .dropDuplicates([idc, "phrase"]))
        # exact consecutive-sequence residual + occurrence count via
        # length arithmetic (codegen, replace() is left-to-right
        # non-overlapping — the str.count contract above)
        n_occ = ((F.length("__norm")
                  - F.length(F.replace(F.col("__norm"),
                                       F.col("__needle"), F.lit(" "))))
                 / (F.length("__needle") - 1)).cast("int")
        return (cand.withColumn("n_occurrences", n_occ)
                    .filter(F.col("n_occurrences") > 0)
                    .select(idc, "phrase", "n_occurrences"))

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getOrDefault(self.idCol)
        hits = self.match(df).select(idc).distinct()
        return df.join(hits, idc, "left_anti")


class ReadabilityScorer(AlgoOperator, HasInputCol):
    """Classic readability indices (Flesch "A new readability
    yardstick" 1948; Kincaid et al. 1975) — the standard complexity
    signals used alongside quality scores when stratifying a training
    corpus by difficulty::

        n_words_rd       tokens ([a-zA-Z0-9']+ runs)
        n_sentences      [.!?]+ runs, floored at 1
        n_syllables      [aeiouy]+ vowel groups in the lowercased
                         text — the standard regex approximation of
                         syllable count (exact syllabification needs
                         a dictionary; this is the published
                         deterministic proxy)
        flesch_ease      206.835 − 1.015·(words/sentences)
                         − 84.6·(syllables/words)
        fk_grade         0.39·(words/sentences)
                         + 11.8·(syllables/words) − 15.59

    Empty/NULL text scores NULL. Map-only ``regexp_count``
    projections — zero shuffle, streaming-compatible, exactly
    replayable in SQL."""

    _defaults = dict(inputCol="text")

    def transform(self, df: DataFrame) -> DataFrame:
        t = F.col(self.getInputCol())
        words = F.regexp_count(t, F.lit("[a-zA-Z0-9']+"))
        sents = F.greatest(
            F.regexp_count(t, F.lit("[.!?]+")), F.lit(1))
        sylls = F.regexp_count(F.lower(t), F.lit("[aeiouy]+"))
        has = t.isNotNull() & (words > 0)
        wps = words.cast("double") / sents
        spw = sylls.cast("double") / words
        return (df
                .withColumn("n_words_rd", F.when(t.isNotNull(), words))
                .withColumn("n_sentences", F.when(t.isNotNull(), sents))
                .withColumn("n_syllables", F.when(t.isNotNull(), sylls))
                .withColumn("flesch_ease",
                            F.when(has, 206.835 - 1.015 * wps
                                   - 84.6 * spw))
                .withColumn("fk_grade",
                            F.when(has, 0.39 * wps + 11.8 * spw
                                   - 15.59)))


class HashedTfEmbedder(AlgoOperator, HasInputCol, HasOutputCol):
    """Text → L2-normalized hashed term-frequency vector
    (``array<double>``, the hashing trick of Weinberger et al.,
    "Feature hashing for large scale multitask learning", ICML 2009)
    — the model-free bridge from the text operators to the embedding
    family: its output feeds :class:`~flink_ml__spark.functions.
    similarity.CosineTopK` / IVF ANN / ``EmbeddingCosineDeduplicator``
    directly, giving lexical-cosine retrieval and dedup with no
    trained model and no vocabulary state.

    Each token lands in bucket ``md5-60bit(token) mod dim`` (the
    engine-portable hash every operator here uses, so DuckDB replays
    vectors bit-for-bit); bucket weights are raw counts or
    ``ln(1+count)`` (``setSublinear``), then the vector L2-normalizes.
    NULL/token-free documents emit NULL (a zero vector has no cosine
    direction — let downstream drop it explicitly).

    100 TB design: pure map-side higher-order functions — no UDF, no
    shuffle, no fitted state (the hash IS the vocabulary), so it
    composes into any scan. Work is O(tokens · dim) per row; keep
    ``dim`` ≤ a few hundred (classic hashing-trick regime — collisions
    are the accepted trade).
    """

    dim = Param(Params._dummy(), "dim", "vector width",
                TypeConverters.toInt)
    sublinear = Param(Params._dummy(), "sublinear",
                      "ln(1+tf) instead of raw counts",
                      TypeConverters.toBoolean)

    _defaults = dict(inputCol="text", outputCol="embedding",
                     dim=64, sublinear=False)

    def setDim(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"dim must be >= 1, got {v}")
        return self._set(dim=v)

    def setSublinear(self, v):
        return self._set(sublinear=bool(v))

    def transform(self, df: DataFrame) -> DataFrame:
        from flink_ml__spark.functions.dedup import portable_hash60

        d = self.getDim()
        out = self.getOrDefault(self.outputCol)
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        # each stage MATERIALIZES as a column before the next uses it:
        # Catalyst does no common-subexpression elimination across
        # higher-order-function lambdas, so inlining `buckets` into
        # the d per-bucket counts re-ran the md5 token hash d times
        # (and the counts again for the norm and the vector —
        # measured 114 s -> ~3 s at sf0.1 for the dim=16 gate)
        buckets = F.transform(toks, lambda t: portable_hash60(t) % d)
        counts = F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: F.size(F.filter(F.col("__htf_b"),
                                      lambda b: b == i))
            .cast("double"))
        if self.getOrDefault(self.sublinear):
            counts = F.transform(counts, lambda x: F.log1p(x))
        norm = F.sqrt(F.aggregate(F.col("__htf_c"), F.lit(0.0),
                                  lambda a, x: a + x * x))
        vec = F.when(
            F.size(F.col("__htf_b")) > 0,
            F.transform(F.col("__htf_c"),
                        lambda x: x / F.col("__htf_n")))
        return (df.withColumn("__htf_b", buckets)
                .withColumn("__htf_c", counts)
                .withColumn("__htf_n", norm)
                .withColumn(out, vec)
                .drop("__htf_b", "__htf_c", "__htf_n"))


class EncodingCorruptionDetector(AlgoOperator, HasInputCol):
    """Mojibake / encoding-damage signals per document — the
    crawl-hygiene pass that catches double-decoded UTF-8, lossy
    transcodes, and binary bleed before text ever reaches dedup or
    training (cf. the ftfy problem statement, Speer 2019).

    Appends::

        n_replacement   U+FFFD replacement characters (a decoder
                        already gave up here)
        n_mojibake      classic UTF-8-read-as-Latin-1/cp1252 digraphs:
                        'A-tilde'/'A-circumflex' (U+00C3/U+00C2)
                        followed by U+0080-U+00BF, and U+00E2 followed
                        by U+20AC or U+0080 (double-decoded
                        punctuation's prefix)
        n_control       C0/C1 control characters (tab/newline/CR
                        exempt) — binary bleed
        corrupt_ratio   (sum of the above) / max(chars, 1); a char can
                        count twice when classes overlap (C1 chars
                        inside a mojibake digraph) — it IS corrupt
        is_corrupt      any replacement char, or corrupt_ratio >=
                        ``threshold``

    All counts are single-pass JVM ``regexp_count`` projections; the
    patterns use only ``\\x{..}`` escapes and character classes, valid
    in BOTH Java regex and RE2 — the SQL oracle runs the identical
    strings. NULL text → NULL signals, is_corrupt false.
    """

    threshold = Param(Params._dummy(), "threshold",
                      "corrupt_ratio at/above which is_corrupt fires",
                      TypeConverters.toFloat)

    RE_REPLACEMENT = "\\x{FFFD}"
    RE_MOJIBAKE = ("(?:[\\x{C3}\\x{C2}][\\x{80}-\\x{BF}]"
                   "|\\x{E2}[\\x{20AC}\\x{80}])")
    RE_CONTROL = ("[\\x{00}-\\x{08}\\x{0B}\\x{0C}"
                  "\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]")

    _defaults = dict(inputCol="text", threshold=0.01)

    def setThreshold(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError(f"threshold must be > 0, got {v}")
        return self._set(threshold=v)

    def transform(self, df: DataFrame) -> DataFrame:
        text = F.col(self.getInputCol())
        rep = F.regexp_count(text, F.lit(self.RE_REPLACEMENT))
        moj = F.regexp_count(text, F.lit(self.RE_MOJIBAKE))
        ctl = F.regexp_count(text, F.lit(self.RE_CONTROL))
        out = (df.withColumn("n_replacement", rep)
               .withColumn("n_mojibake", moj)
               .withColumn("n_control", ctl)
               .withColumn("corrupt_ratio",
                           (F.col("n_replacement") + F.col("n_mojibake")
                            + F.col("n_control"))
                           / F.greatest(F.length(text), F.lit(1))
                           .cast("double")))
        thr = self.getOrDefault(self.threshold)
        return out.withColumn(
            "is_corrupt",
            F.coalesce((F.col("n_replacement") > 0)
                       | (F.col("corrupt_ratio") >= thr),
                       F.lit(False)))


class SentenceSplitter(AlgoOperator, HasInputCol):
    """Sentence segmentation to one row per sentence — the unit pass
    under sentence-level dedup, per-sentence quality scoring and
    sentence-aligned chunking.

    Sentences are ``regexp_extract_all`` matches of
    ``[^.!?]+[.!?]*`` — a run of non-terminators plus its trailing
    terminator group — trimmed, empties dropped. Deliberately
    lookaround-free so the SAME pattern runs under Java regex and
    RE2 (no abbreviation model; 'Dr. Smith' splits — acceptable for
    corpus statistics, not for linguistics). Leading bare terminator
    runs ('...') attach to no sentence and vanish.

    Output: ``<idCol>``, ``sent_idx`` (0-based document order),
    ``sentence``. NULL/empty documents emit no rows.

    100 TB design: one extract + posexplode projection — map-only,
    zero shuffle, output-proportional.
    """

    idCol = Param(Params._dummy(), "idCol", "document id column",
                  TypeConverters.toString)

    RE_SENT = "[^.!?]+[.!?]*"

    _defaults = dict(inputCol="text", idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        i = self.getOrDefault(self.idCol)
        text = F.col(self.getInputCol())
        sents = F.filter(
            F.transform(
                F.regexp_extract_all(text, F.lit(self.RE_SENT), 0),
                lambda s: F.trim(s)),
            lambda s: s != "")
        return (df.filter(text.isNotNull())
                .select(F.col(i), F.posexplode(sents)
                        .alias("sent_idx", "sentence")))


class HashedTfIdfModel(AlgoOperator, HasInputCol, HasOutputCol):
    """Fitted hashed TF-IDF vectorizer: per-bucket IDF weights learned
    by :class:`HashedTfIdfEmbedder`, applied as a map-only HOF pass —
    the corpus-aware upgrade of :class:`HashedTfEmbedder` (common
    buckets downweight, discriminative ones dominate the cosine).

    ``idf[b] = ln((N + 1) / (df_b + 1)) + 1`` (smooth IDF — never
    zero, unseen buckets get the max weight). Output is the
    L2-normalized ``tf · idf`` vector; NULL/token-free docs emit
    NULL. The model is ``dim`` doubles folded in as a literal array —
    no join, stream-compatible.
    """

    _state = ("_dim", "_idf")

    _defaults = dict(inputCol="text", outputCol="embedding")

    def __init__(self, dim: int | None = None,
                 idf: list | None = None):
        super().__init__()
        self._dim = dim
        self._idf = idf    # length-dim doubles

    @property
    def idf(self) -> list:
        return list(self._idf)

    def transform(self, df: DataFrame) -> DataFrame:
        from flink_ml__spark.functions.dedup import portable_hash60

        d = self._dim
        out = self.getOrDefault(self.outputCol)
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        buckets = F.transform(toks, lambda t: portable_hash60(t) % d)
        idf_arr = F.array(*[F.lit(float(w)) for w in self._idf])
        counts = F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: F.size(F.filter(F.col("__hti_b"),
                                      lambda b: b == i))
            .cast("double"))
        weighted = F.zip_with(F.col("__hti_c"), idf_arr,
                              lambda c, w: c * w)
        norm = F.sqrt(F.aggregate(F.col("__hti_w"), F.lit(0.0),
                                  lambda a, x: a + x * x))
        vec = F.when(
            F.size(F.col("__hti_b")) > 0,
            F.transform(F.col("__hti_w"),
                        lambda x: x / F.col("__hti_n")))
        return (df.withColumn("__hti_b", buckets)
                .withColumn("__hti_c", counts)
                .withColumn("__hti_w", weighted)
                .withColumn("__hti_n", norm)
                .withColumn(out, vec)
                .drop("__hti_b", "__hti_c", "__hti_w", "__hti_n"))


class HashedTfIdfEmbedder(AlgoOperator, HasInputCol, HasOutputCol):
    """Fits :class:`HashedTfIdfModel`: one pass counts, per hash
    bucket, the number of documents containing it (distinct buckets
    per doc → one count aggregation, output is ``dim`` rows), and the
    smooth-IDF table folds into the model as literals.

    100 TB design: fit shuffles only (bucket, count) — O(dim) final
    rows; the model artifact is O(dim) doubles; apply is map-only.
    """

    dim = Param(Params._dummy(), "dim", "vector width",
                TypeConverters.toInt)

    _defaults = dict(inputCol="text", outputCol="embedding",
                     dim=64)

    def setDim(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"dim must be >= 1, got {v}")
        return self._set(dim=v)

    def fit(self, df: DataFrame) -> HashedTfIdfModel:
        import math

        from flink_ml__spark.functions.dedup import portable_hash60

        d = self.getOrDefault(self.dim)
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        buckets = F.array_distinct(
            F.transform(toks, lambda t: portable_hash60(t) % d))
        base = df.select(F.explode(buckets).alias("__b"))
        n_docs = df.count()
        dfreq = {r["__b"]: r["c"]
                 for r in base.groupBy("__b")
                 .agg(F.count(F.lit(1)).alias("c")).collect()}
        idf = [math.log((n_docs + 1.0) / (dfreq.get(b, 0) + 1.0)) + 1.0
               for b in range(d)]
        model = HashedTfIdfModel(d, idf)
        model._set(inputCol=self.getInputCol(),
                   outputCol=self.getOrDefault(self.outputCol))
        return model


class LexicalDiversityScorer(AlgoOperator, HasInputCol):
    """Vocabulary-diversity signals per document — the standard
    low-diversity spam/boilerplate detectors used alongside quality
    and repetition scores when curating a training corpus::

        n_tokens_ld       tokens (lowercased ``[a-zA-Z0-9']`` runs)
        n_types           distinct tokens
        ttr               type-token ratio  n_types / n_tokens
        hapax_frac        fraction of TYPES occurring exactly once
        shannon_entropy   −Σ p·log2(p) over the token frequency
                          distribution (bits; 0 for a one-token doc)
        simpson_index     Σ p² (repeat-probability; 1 = one token
                          repeated, → 0 for maximally diverse)

    NULL/empty-token documents emit ``n_tokens_ld = 0`` and NULL for
    the ratios. One explode + two hash aggregations — (doc, token)
    counts then the per-doc fold — the same two-shuffle shape as the
    unigram LM; no Python anywhere."""

    idCol = Param(Params._dummy(), "idCol", "document id column",
                  TypeConverters.toString)

    _defaults = dict(inputCol="text", idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getOrDefault(self.idCol)
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        counts = (df.select(idc, F.explode(toks).alias("__t"))
                  .groupBy(idc, "__t")
                  .agg(F.count(F.lit(1)).alias("__c")))
        # entropy/simpson from raw-count sums so the per-doc fold is
        # ONE aggregate: H = log2(n) − (Σ c·log2 c)/n, D = Σ c² / n²
        c = F.col("__c").cast("double")
        stats = (counts.groupBy(idc).agg(
            F.sum("__c").alias("n_tokens_ld"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
            .alias("__hapax"),
            F.sum(c * F.log2(c)).alias("__clogc"),
            F.sum(c * c).alias("__csq")))
        n = F.col("n_tokens_ld").cast("double")
        stats = stats.select(
            idc, "n_tokens_ld", "n_types",
            (F.col("n_types") / n).alias("ttr"),
            (F.col("__hapax") / F.col("n_types").cast("double"))
            .alias("hapax_frac"),
            (F.log2(n) - F.col("__clogc") / n).alias("shannon_entropy"),
            (F.col("__csq") / (n * n)).alias("simpson_index"))
        return (df.join(stats, idc, "left")
                .withColumn("n_tokens_ld",
                            F.coalesce("n_tokens_ld", F.lit(0))))


class CodeDensityProfiler(AlgoOperator, HasInputCol):
    """Code-vs-prose signals per document — the training-mix router
    that decides whether a crawl document belongs in the code bucket,
    the prose bucket, or the bin. Line-structural heuristics only (no
    language parser), all codegen projections::

        n_lines           newline-split segments
        indent_frac       lines starting with 4+ spaces or a tab
        symbol_line_frac  lines whose rstrip ends in ``;``, ``{``,
                          ``}``, ``)``, or ``:``
        fence_count       markdown code fences (lines starting ```)
        symbol_ratio      ``{}()[];=<>`` characters / total characters
        code_score        0.4·indent_frac + 0.3·symbol_line_frac
                          + 0.3·min(10·symbol_ratio, 1), +0.2 if a
                          fence exists, capped at 1.0
        is_code           code_score >= threshold

    NULL text emits NULLs. Map-only, zero shuffle, stream-safe, and
    exactly SQL-replayable."""

    threshold = Param(Params._dummy(), "threshold",
                      "code_score flag threshold",
                      TypeConverters.toFloat)

    _defaults = dict(inputCol="text", threshold=0.4)

    def transform(self, df: DataFrame) -> DataFrame:
        t = F.col(self.getInputCol())
        lines = F.split(t, "\n")
        nl = F.size(lines)
        indent = F.size(F.filter(
            lines, lambda s: s.rlike("^(    |\t)")))
        symline = F.size(F.filter(
            lines, lambda s: s.rlike("[;{})(:]\\s*$")))
        fences = F.size(F.filter(
            lines, lambda s: s.startswith("```")))
        nchars = F.length(t)
        nsym = nchars - F.length(F.regexp_replace(
            t, "[{}()\\[\\];=<>]", ""))
        sr = F.when(nchars > 0, nsym.cast("double") / nchars) \
            .otherwise(F.lit(0.0))
        score = F.least(
            F.lit(0.4) * (indent.cast("double") / nl)
            + F.lit(0.3) * (symline.cast("double") / nl)
            + F.lit(0.3) * F.least(F.lit(10.0) * sr, F.lit(1.0))
            + F.when(fences > 0, F.lit(0.2)).otherwise(F.lit(0.0)),
            F.lit(1.0))
        has = t.isNotNull()
        return (df
                .withColumn("n_lines", F.when(has, nl))
                .withColumn("indent_frac",
                            F.when(has, indent.cast("double") / nl))
                .withColumn("symbol_line_frac",
                            F.when(has, symline.cast("double") / nl))
                .withColumn("fence_count", F.when(has, fences))
                .withColumn("symbol_ratio", F.when(has, sr))
                .withColumn("code_score", F.when(has, score))
                .withColumn("is_code",
                            F.when(has, score >= F.lit(
                                self.getOrDefault(self.threshold)))))


class NgramOverlapScorer(AlgoOperator):
    """ROUGE-N style n-gram overlap between PAIRED texts (Lin 2004):
    clipped n-gram precision/recall/F1 — the standard
    summarization/paraphrase/near-dup EXPLANATION metric (the dedup
    pipeline finds candidate pairs; this scores how much actually
    overlaps, token-wise).

    ``score_pairs(pairs, docs)``: ``pairs`` carries (idA, idB); docs
    carries (idCol, inputCol). Returns one row per pair and order n::

        <idA>, <idB>, n
        match_n        Σ_g min(count_A(g), count_B(g))  (clipped)
        total_a, total_b
        precision      match / total_a   (A = candidate side)
        recall         match / total_b   (B = reference side)
        f1             harmonic mean (NULL when both sides empty)

    100 TB design: docs are joined ONCE to a (doc → pair, side) map
    and every configured order's grams come out of a single explode;
    per-pair clipped matches AND both totals fall out of one two-level
    keyed aggregation (gram occurrences grouped by (pair, n, gram)
    with per-side conditional counts, then by (pair, n) summing
    least(ca, cb) for the clip and ca / cb for the totals — a gram
    total is just the occurrence count of that side's grams). Overlap
    never materializes a gram×gram product, and pairs are
    candidate-sized by construction (they come from a banded miner,
    not a cross join). Duplicate pair rows are deduplicated before the
    aggregation so they emit identical copies rather than doubled
    counts; a pair with a NULL id on either side scores as empty.
    """

    idColA = Param(Params._dummy(), "idColA",
                   "pair column naming side A", TypeConverters.toString)
    idColB = Param(Params._dummy(), "idColB",
                   "pair column naming side B", TypeConverters.toString)
    ngramOrders = Param(Params._dummy(), "ngramOrders",
                        "n-gram orders scored", TypeConverters.toListInt)
    docIdCol = Param(Params._dummy(), "docIdCol",
                     "doc id column in the docs frame",
                     TypeConverters.toString)
    inputCol = Param(Params._dummy(), "inputCol", "text column",
                     TypeConverters.toString)

    _defaults = dict(idColA="id_a", idColB="id_b",
                     ngramOrders=[1, 2], docIdCol="doc_id",
                     inputCol="text")

    def setIdCols(self, a, b):
        return self._set(idColA=a, idColB=b)

    def setNgramOrders(self, *v):
        v = list(v[0]) if len(v) == 1 and not isinstance(
            v[0], int) else list(v)
        if not v or any(n < 1 for n in v):
            raise ValueError("ngramOrders must be positive ints")
        return self._set(ngramOrders=sorted(set(v)))

    def _gram_array(self, toks):
        """array<struct<n,__g>> of every configured order's grams —
        one expression, so ONE explode covers all orders."""
        arrs = []
        for n in self.getOrDefault(self.ngramOrders):
            if n == 1:
                a = F.transform(toks, lambda t: F.struct(
                    F.lit(1).alias("n"), t.alias("__g")))
            else:
                # sequence(1, 0) DESCENDS in Spark — short texts must
                # yield an empty gram array, not slice(…, 0, …)
                idx = F.when(
                    F.size(toks) >= n,
                    F.sequence(F.lit(1), F.size(toks) - (n - 1))
                ).otherwise(F.array().cast("array<int>"))
                a = F.transform(idx, lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.array_join(F.slice(toks, i, n), " ")
                    .alias("__g")))
            arrs.append(a)
        return F.concat(*arrs) if len(arrs) > 1 else arrs[0]

    def score_pairs(self, pairs: DataFrame,
                    docs: DataFrame) -> DataFrame:
        ia = self.getOrDefault(self.idColA)
        ib = self.getOrDefault(self.idColB)
        did = self.getOrDefault(self.docIdCol)
        p = pairs.select(F.col(ia).alias("__a"), F.col(ib).alias("__b"))
        # (doc → pair, side) map: joining docs to it FIRST both
        # restricts the gram build to pair-referenced docs (measured 5×
        # at sf0.1 — Catalyst does not push the pair filter through the
        # gram aggregation on its own) and lets a single aggregation
        # serve every downstream quantity
        pd_ = p.distinct()
        m = (pd_.select(F.col("__a").alias("__d"), "__a", "__b",
                        F.lit(True).alias("__sa"))
             .unionAll(pd_.select(F.col("__b").alias("__d"), "__a",
                                  "__b", F.lit(False).alias("__sa"))))
        toks = F.filter(
            F.split(F.lower(F.col(self.getOrDefault(self.inputCol))),
                    TOKEN_SPLIT), lambda t: t != "")
        d = (docs.filter(F.col(did).isNotNull())
             .select(F.col(did).alias("__d"), toks.alias("__t")))
        occ = (d.join(m, "__d")
               .select("__a", "__b", "__sa",
                       F.explode(self._gram_array(F.col("__t")))
                       .alias("__gr")))
        per_gram = (occ.groupBy("__a", "__b",
                                F.col("__gr.n").alias("n"),
                                F.col("__gr.__g").alias("__g"))
                    .agg(F.sum(F.when(F.col("__sa"), 1).otherwise(0))
                         .alias("__ca"),
                         F.sum(F.when(F.col("__sa"), 0).otherwise(1))
                         .alias("__cb")))
        # one aggregation yields the clip AND both totals: a side's
        # gram total is the sum of its per-gram occurrence counts
        stats = (per_gram.groupBy("__a", "__b", "n")
                 .agg(F.sum(F.least("__ca", "__cb")).alias("match_n"),
                      F.sum("__ca").alias("total_a"),
                      F.sum("__cb").alias("total_b")))
        # every pair × order gets a row, zero-matched included
        orders = pairs.sparkSession.createDataFrame(
            [(n,) for n in self.getOrDefault(self.ngramOrders)],
            "n int")
        full = (p.crossJoin(F.broadcast(orders))
                .join(stats, ["__a", "__b", "n"], "left")
                .withColumn("match_n",
                            F.coalesce("match_n", F.lit(0)))
                .withColumn("total_a", F.coalesce("total_a", F.lit(0)))
                .withColumn("total_b", F.coalesce("total_b", F.lit(0))))
        prec = F.when(F.col("total_a") > 0,
                      F.col("match_n") / F.col("total_a"))
        rec = F.when(F.col("total_b") > 0,
                     F.col("match_n") / F.col("total_b"))
        f1 = F.when(prec.isNotNull() & rec.isNotNull()
                    & (prec + rec > 0),
                    2 * prec * rec / (prec + rec)) \
            .otherwise(F.when(prec.isNotNull() & rec.isNotNull(),
                              F.lit(0.0)))
        return full.select(F.col("__a").alias(ia),
                           F.col("__b").alias(ib), "n", "match_n",
                           "total_a", "total_b",
                           prec.alias("precision"),
                           rec.alias("recall"), f1.alias("f1"))

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError("use score_pairs(pairs, docs)")


class TokenizerFertilityProfiler(AlgoOperator, HasInputCol):
    """Per-group tokenizer fertility audit — the standard check for
    tokenizer bias across languages/domains: a group whose fertility
    (sub-word tokens per whitespace word) runs far above the corpus
    mean pays proportionally more context budget per sentence, which
    skews both the effective mixture and per-language training cost.
    Uses the engine's BPE-ish regex pre-tokenizer
    (:class:`TokenCounter`'s ``BPE_PATTERN``) as the token model.

    Output: one row per group —
    ``n_docs``, ``n_words`` (whitespace), ``n_tokens`` (BPE-ish),
    ``n_chars``, ``fertility`` = tokens/word,
    ``chars_per_token``, and ``rel_fertility`` = group fertility over
    corpus fertility (1.0 = no bias; NULL when a ratio's denominator
    is 0).

    100 TB shape: the counts fold into the scan projection (regexp
    size counting, codegen, no UDF), then ONE hash aggregation on the
    group key + a 1-row corpus total broadcast back — same two-level
    aggregate shape as TemperatureMixer.
    """

    groupCol = Param(Params._dummy(), "groupCol", "group column",
                     TypeConverters.toString)

    _defaults = dict(inputCol="text", groupCol="lang")

    def transform(self, df: DataFrame) -> DataFrame:
        g = self.getOrDefault(self.groupCol)
        text = F.col(self.getInputCol())
        words = F.when(text.isNull(), F.lit(0)).otherwise(
            F.size(F.filter(F.split(text, r"\s+"), lambda t: t != "")))
        toks = F.when(text.isNull(), F.lit(0)).otherwise(
            F.size(F.regexp_extract_all(
                text, F.lit(TokenCounter.BPE_PATTERN), 0)))
        chars = F.length(F.coalesce(text, F.lit("")))
        per = (df.groupBy(g).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(words).cast("long").alias("n_words"),
            F.sum(toks).cast("long").alias("n_tokens"),
            F.sum(chars).cast("long").alias("n_chars")))
        tot = per.agg(F.sum("n_words").alias("__tw"),
                      F.sum("n_tokens").alias("__tt"))
        fert = F.when(F.col("n_words") > 0,
                      F.col("n_tokens") / F.col("n_words").cast("double"))
        cfert = F.when(F.col("__tw") > 0,
                       F.col("__tt") / F.col("__tw").cast("double"))
        return (per.crossJoin(F.broadcast(tot))
                .select(g, "n_docs", "n_words", "n_tokens", "n_chars",
                        fert.alias("fertility"),
                        F.when(F.col("n_tokens") > 0,
                               F.col("n_chars")
                               / F.col("n_tokens").cast("double"))
                        .alias("chars_per_token"),
                        (fert / cfert).alias("rel_fertility")))
