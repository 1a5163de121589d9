"""Text analysis operators for training-data pipelines: token counting,
quality scoring, n-gram language ID, document fingerprinting.

All pure Catalyst expressions (split/regexp/aggregate/md5) — these run
inside whole-stage codegen over 100 TB of text without touching Python.
Formulas are deliberately expressible in portable SQL so the DuckDB oracle
can replicate them exactly (integer counts and exact rational ratios; no
engine-specific hashing).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, functions as F

# tiny characteristic-word profiles for the n-gram/stopword language-ID
# heuristic (public-knowledge stopword lists, truncated)
LANG_PROFILES: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the BPE-ish regex split)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def avg_token_length(col: Column) -> Column:
    """Exact rational (sum of lengths / count) — deterministic across
    engines. Total token chars = length of the trimmed text with every
    whitespace run removed (same \\s class as the tokenizer split), which
    stays in whole-stage codegen; the aggregate-lambda form it replaces ran
    interpreted (HOFs never codegen)."""
    total = F.length(F.regexp_replace(F.trim(col), r"\s+", ""))
    return total.cast("double") / F.size(tokens(col)).cast("double")


def stopword_ratio(col: Column, stopwords: List[str] = None) -> Column:
    """Stopword occurrence fraction via the codegen regexp_count path
    (see _lang_hits) instead of an interpreted token-filter lambda."""
    sw = stopwords or STOPWORDS
    return (_lang_hits(col, sw).cast("double")
            / F.size(tokens(col)).cast("double"))


def punct_ratio(col: Column) -> Column:
    no_punct = F.regexp_replace(col, r"[^\w\s]", "")
    return (F.length(col) - F.length(no_punct)).cast("double") / F.length(col).cast("double")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (length/punct/stopword ratios)."""
    c = F.col(text_col)
    return df.withColumns({
        "n_tokens": token_count(c),
        "avg_token_len": avg_token_length(c),
        "stopword_ratio": stopword_ratio(c),
        "punct_ratio": punct_ratio(c),
    })


def _lang_hits(col: Column, words: List[str]) -> Column:
    """Stopword occurrence count (WITH multiplicity) via one regexp_count
    inside whole-stage codegen. The obvious form — filter the token array
    with a lambda — runs INTERPRETED (Spark never codegens higher-order
    functions, ~45 µs/eval — measured 2.6 s for 5.5 k docs in the curation
    annotate pass). Token boundaries under \\s+ splitting are exactly
    (^|\\s) before and (\\s|$) after, and tokens never contain whitespace,
    so zero-width lookarounds count precisely the tokens whose lowercase
    form is in the list — including consecutive stopwords ("of the"), which
    a consuming (\\s|$) group would miss. Parity with the HOF form is
    pinned by a pytest; the DuckDB oracle keeps its list_filter shape."""
    import re

    pat = ("(?<=^|\\s)(?:" + "|".join(re.escape(w) for w in words)
           + ")(?=\\s|$)")
    return F.regexp_count(F.lower(F.trim(col)), F.lit(pat))


def lang_scores(col: Column) -> Dict[str, Column]:
    """Characteristic-word hit ratio per language."""
    n = F.size(tokens(col))
    return {lang: _lang_hits(col, words).cast("double") / n.cast("double")
            for lang, words in LANG_PROFILES.items()}


def lang_id(col: Column) -> Column:
    """Argmax language by profile score; 'und' when no profile hits.
    Deterministic tie-break: higher score wins, then lexicographic lang."""
    scores = lang_scores(col)
    pairs = F.array(*[
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(scores)
    ])
    best = F.array_max(F.filter(pairs, lambda p: p.getField("score") > 0))
    return F.coalesce(best.getField("lang"), F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (md5 is identical across engines — usable as a portable dedup key.)"""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


# GPT-2-style pre-tokenizer pattern, RE2-compatible (no lookahead, so the
# same pattern runs verbatim in DuckDB/RE2 and Java regex): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs.
BPE_SPLIT_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokenization (the merge step of real BPE needs a learned
    vocab; the split is what token-count estimation needs)."""
    return F.regexp_extract_all(col, F.lit(BPE_SPLIT_PATTERN), F.lit(0))


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 16, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, chunk_idx, chunk_text, n_tokens): overlapping token-window
    chunks — the standard prep for fixed-context training samples. Chunk i
    starts at token i·(chunk−overlap); the last chunk may be shorter.
    Pure Catalyst (sequence + slice + explode), one row-local fan-out, no
    shuffle: at 100 TB this pipelines inside the scan stage. The chunk
    count uses exact integer ceil ((n−chunk+s−1) div s, s = chunk−overlap)
    so the DuckDB oracle reproduces boundaries bit-for-bit."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # integer ceil via floor-div: Spark's `/` on ints yields double, so
    # floor() restores exact integer semantics the oracle mirrors with `//`
    n_chunks = F.when(
        n <= chunk_tokens, F.lit(1)
    ).otherwise(
        (F.lit(1) + F.floor((n - chunk_tokens + stride - 1) / F.lit(stride))).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " ")
            .alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - i * stride).alias("n_tokens"),
        ),
    )
    return (df.select(F.col(id_col), F.explode(chunks).alias("c"))
            .select(id_col, F.col("c.chunk_idx").alias("chunk_idx"),
                    F.col("c.chunk_text").alias("chunk_text"),
                    F.col("c.n_tokens").alias("n_tokens")))


# PII patterns, RE2-compatible (no lookaround) so the identical literals
# run in DuckDB for the oracle. Redaction order matters (emails contain
# dots that the IP pattern must not see first): email → ip → phone.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b((25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\b"
PII_PHONE = r"\+[0-9][0-9 ().-]{7,}[0-9]"


def redact_pii(col: Column) -> Column:
    """Replace emails / IPv4s / international-format phone numbers with
    typed placeholders — the minimum-viable PII scrub for web-scale
    training text. Pure Catalyst regexp_replace chain (codegen, no UDF);
    patterns are RE2-portable so the DuckDB oracle applies the identical
    literals in the identical order."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return out


_KR_P = 2_147_483_647  # 2^31 - 1
_KR_B = 257


def winnow_fingerprints(df: DataFrame, k: int = 8, window: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, fp, pos) winnowed rolling-hash fingerprints (the MOSS scheme):
    Karp-Rabin hashes over character ``k``-grams of normalized text, then
    per sliding window of ``window`` hashes keep the minimum (ties -> the
    earliest position), emitting the distinct selected set.

    Guarantees: any shared substring of length >= k + window - 1 between
    two documents yields at least one shared fingerprint. The polynomial
    coefficients are precomputed constants mod 2^31-1, so every hash is
    exact integer math — bit-identical in any engine (DuckDB oracle).

    Scale shape: one explode (bounded by text length), one window over
    (doc, pos) — partitioned per doc, no cross-doc shuffle beyond the
    repartition implicit in the window.

    Hot-key bound: ``partitionBy(doc)`` serializes each document into one
    task, so the bound here is the LONGEST document, not the hottest join
    key — O(len) hashes in one task. Mitigate pathological documents
    upstream with ``chunk_documents`` (fingerprint per chunk) or a length
    cap; per-user/per-key analogs of this bound are documented on
    ``asof_join`` (which offers a bucketed two-phase carry) and
    ``sessionize_stream``."""
    from pyspark.sql import Window
    from .dedup import rebalance_by_id

    coeffs = [pow(_KR_B, k - 1 - j, _KR_P) for j in range(k)]
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")

    # r6 shape: zero interpreted lambdas in the hash build. The char array
    # (split('') — one O(len) pass; the round-2 per-position substr form
    # was O(len²·k)) is zipped with its k−1 shifted slices (arrays_zip +
    # slice: whole-stage codegen), POSEXPLODED, and the Karp-Rabin
    # polynomial Σ ascii(char_{i+j})·B^{k−1−j} mod P runs as ordinary
    # codegen arithmetic over the exploded k-field structs. The transform
    # lambdas this replaces (per-char ascii + per-position k-term fold)
    # never codegen — interpreted ~45 µs/eval. Values are bit-identical:
    # same codepoints, same coefficients mod 2^31−1 — DuckDB oracle
    # unchanged. Docs shorter than k yield NULL → no rows (as before).
    chars = F.split(F.col("__norm"), "")
    n = F.length(F.col("__norm"))
    width = n - k + 1
    zipped = F.when(n >= k, F.arrays_zip(
        *[F.slice(chars, j + 1, width).alias(f"c{j}") for j in range(k)]))

    terms = None
    for j, c in enumerate(coeffs):
        t = F.ascii(F.col(f"g.c{j}")).cast("bigint") * F.lit(c)
        terms = t if terms is None else terms + t
    gram_h = F.pmod(terms, F.lit(_KR_P))

    rows = (rebalance_by_id(df, id_col)
            .withColumn("__norm", norm)
            .select(F.col(id_col), F.posexplode(zipped).alias("i", "g"))
            .select(id_col, (F.col("i") + 1).alias("pos"),
                    gram_h.alias("h")))

    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(Window.currentRow, window - 1))
    sel = (rows
           .withColumn("m", F.min(F.struct(F.col("h"), F.col("pos"))).over(w))
           .withColumn("wn", F.count(F.lit(1)).over(w))
           .where(F.col("wn") == window)
           .select(id_col, F.col("m.h").alias("fp"), F.col("m.pos").alias("pos"))
           .distinct())
    return sel


def ngram_structs(col: Column, n: int = 3) -> Column:
    """ALL word n-grams as an array of n-field token STRUCTS, built from
    ``arrays_zip`` over n shifted slices — every operator here is
    whole-stage codegen, unlike the ``transform`` lambda this replaces
    (higher-order functions always run interpreted, ~45 µs/eval — r6
    measured the equivalent md5-in-lambda build at 11x the codegen
    shape). A struct equals another struct iff the token lists are equal,
    and tokens contain no whitespace, so struct identity == joined-string
    identity: distinct counts and group keys are interchangeable with the
    string form, and ``concat_ws(" ", ...)`` after an explode recovers
    the exact string when one is needed. Short documents (< n tokens)
    yield NULL (explode skips it; wrap with coalesce for array
    consumers)."""
    toks = tokens(col)
    sz = F.size(toks)
    width = sz - (n - 1)
    return F.when(sz >= n, F.arrays_zip(
        *[F.slice(toks, i + 1, width).alias(f"t{i}") for i in range(n)]))


def ngram_repetition(df: DataFrame, n: int = 3, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``n_grams`` / ``n_distinct``: total and distinct word n-gram counts
      — ROW-LOCAL (size + array_distinct inside codegen), no shuffle;
    - ``dup_frac_r6``: (n_grams − n_distinct) / n_grams — the duplicate
      n-gram fraction, the classic boilerplate/looping-text filter;
    - ``top_share_r6``: most-frequent-gram count / n_grams — the
      "top n-gram fraction" repetition signal.

    ALL THREE metrics derive from ONE per-(doc, gram) count pass (explode
    + two-level aggregate, both map-side combinable): n_grams = sum of
    counts, n_distinct = row count, top = max count. The tempting hybrid
    — row-local size/array_distinct for the first two plus the exploded
    pass for top — builds the gram array TWICE, and the gram transform is
    an interpreted higher-order function (~45 µs/eval, never codegen); a
    left join from the id spine restores docs with no grams. Exact
    integer counts + one double division: engine-portable, DuckDB oracle
    reproduces bit-for-bit. Grams are counted as token STRUCTS from the
    codegen ``ngram_structs`` build (identical group keys — see its
    docstring) instead of interpreted-lambda joined strings."""
    g = ngram_structs(F.col(text_col), n)
    stats = (df.select(F.col(id_col), F.explode(g).alias("__gram"))
             .groupBy(id_col, "__gram").agg(F.count(F.lit(1)).alias("__c"))
             .groupBy(id_col).agg(F.sum("__c").alias("__ng"),
                                  F.count(F.lit(1)).alias("__nd"),
                                  F.max("__c").alias("__top")))
    joined = df.select(F.col(id_col)).join(stats, id_col, "left")
    ng = F.coalesce(F.col("__ng"), F.lit(0))
    nd = F.coalesce(F.col("__nd"), F.lit(0))
    safe = ng > 0
    dup = (ng - nd).cast("double") / ng
    share = F.coalesce(F.col("__top"), F.lit(0)).cast("double") / ng
    return joined.select(
        F.col(id_col), ng.cast("int").alias("n_grams"),
        nd.cast("int").alias("n_distinct"),
        F.round(F.when(safe, dup).otherwise(F.lit(0.0)), 6)
        .alias("dup_frac_r6"),
        F.round(F.when(safe, share).otherwise(F.lit(0.0)), 6)
        .alias("top_share_r6"))


def pack_sequences(df: DataFrame, budget: int = 2048,
                   tokens_col: str = "n_tokens",
                   order_cols=("doc_id", "chunk_idx"),
                   shard_col: str = None, n_shards: int = 1024,
                   id_col: str = "doc_id") -> DataFrame:
    """Assign each chunk to a fixed-token-budget training sequence
    (greedy sequential packing): within a shard, chunks are laid end to
    end in deterministic order and sequence ``seq_id`` is the bin the
    chunk's STARTING offset falls in — ``floor((running − n) / budget)``
    with ``running`` the inclusive running token count. A chunk
    straddling a boundary stays in the bin it started in (bins may
    overflow by at most one chunk — the standard greedy packing
    tradeoff; budget-exact packing is a sequential bin-packing problem
    with no distributed formulation).

    Scale shape: ONE window per shard — ``partitionBy(shard)`` keeps the
    running-sum windows parallel (a global orderBy would serialize the
    corpus through one task). The default shard is an md5 bucket of the
    id (deterministic, engine-portable, same recipe as hash_split);
    pass ``shard_col`` to pack along an existing partitioning instead
    (then no shard column is added). Adds (seq_id, seq_offset) — plus
    ``shard`` when derived — to the input columns; refuses to clobber
    existing columns of those names (re-packing packed output must be an
    explicit rename, not a silent overwrite)."""
    from pyspark.sql import Window

    from .dedup import md5_int

    if budget <= 0:
        raise ValueError("budget must be a positive token count")
    added = ["seq_id", "seq_offset"] + (["shard"] if shard_col is None else [])
    clash = [c for c in added if c in df.columns]
    if clash:
        raise ValueError(
            f"pack_sequences output column(s) {clash} already exist — "
            "rename or drop them first (silent overwrite would discard a "
            "previous packing)")
    out_shard = shard_col
    if shard_col is None:
        df = df.withColumn(
            "shard",
            F.pmod(md5_int(F.concat(F.lit("pack_"),
                                    F.col(id_col).cast("string"))),
                   F.lit(n_shards)).cast("int"))
        out_shard = "shard"
    w = (Window.partitionBy(out_shard).orderBy(*[F.col(c) for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    running = F.sum(F.col(tokens_col)).over(w)
    start = running - F.col(tokens_col)
    return (df.withColumn("seq_id", F.floor(start / F.lit(budget)).cast("int"))
            .withColumn("seq_offset", (start % F.lit(budget)).cast("int")))


def classifier_score(df: DataFrame, seed: int = 42,
                     n_buckets: int = 1 << 18, threshold: float = 0.0,
                     text_col: str = "text", id_col: str = "doc_id",
                     passthrough_cols=()) -> DataFrame:
    """Hashed bag-of-words linear classifier score per document — the
    model-based quality-filter shape (CCNet / fastText-style: hash each
    token into a feature bucket, sum the bucket weights, threshold the
    logit). Weights here are derived deterministically from the bucket id
    (md5 → integer in [-1000, 1000]) so tests and the DuckDB oracle can
    reproduce scores bit-for-bit; serving a TRAINED model swaps only the
    weight expression for a broadcast weight-array lookup
    (``F.element_at(F.lit(weights), bucket + 1)``) — the plan shape
    (explode → map-side-combined sum, one doc-sized shuffle) is identical.

    Determinism: the per-doc weight sum is an EXACT BIGINT (float sums
    reorder under parallel aggregation); the logit is one double division
    ``sum_w / (1000 · n_tokens)`` — correctly rounded and identical in
    any IEEE engine, no transcendentals. ``keep_doc = logit >= threshold``.

    Scale shape: tokenize + hash stay row-local inside the scan
    (whole-stage codegen, no UDF); explode feeds a groupBy on the id whose
    partial aggregation combines each doc's tokens map-side, so the
    shuffle carries one row per (doc, partition) — O(docs), not O(tokens).
    ``n_buckets`` bounds the feature space exactly as in the trained-model
    case (collisions fold weights, the standard hashing-trick tradeoff).
    ``passthrough_cols`` carries doc-constant columns (e.g. the domain)
    through the aggregation as extra group keys — free, and cheaper than
    re-joining them on afterwards.
    """
    from .dedup import md5_int

    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    passthrough = list(passthrough_cols)
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), *[F.col(c) for c in passthrough],
                     F.size(toks).alias("n_tokens"),
                     F.explode(toks).alias("__tok"))
    bucket = F.pmod(md5_int(F.concat(F.lit(f"clf_{seed}_"),
                                     F.col("__tok"))),
                    F.lit(n_buckets))
    weight = (F.pmod(md5_int(F.concat(F.lit(f"clfw_{seed}_"),
                                      bucket.cast("string"))),
                     F.lit(2001)) - F.lit(1000))
    agg = (base.groupBy(id_col, *passthrough, "n_tokens")
           .agg(F.sum(weight).alias("sum_w")))
    logit = (F.col("sum_w").cast("double")
             / (F.lit(1000.0) * F.col("n_tokens").cast("double")))
    return agg.select(
        F.col(id_col), *[F.col(c) for c in passthrough],
        F.col("n_tokens"), F.col("sum_w"), logit.alias("logit"),
        (logit >= F.lit(float(threshold))).alias("keep_doc"))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_word_len: float = 3.0, max_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_frac: float = 0.8,
                 min_stop_kinds: int = 2,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 stopwords: Optional[List[str]] = None) -> DataFrame:
    """Annotate every row with the Gopher quality-rule signals (Rae et
    al. 2021, Appendix A) plus ``reasons`` (the ordered list of failed
    rule names) and ``keep`` — the standard composite heuristic filter a
    crawl corpus passes before dedup. Repetition signals (duplicate
    n-gram / top-gram share) are deliberately NOT folded in: they need a
    corpus gram pass (``ngram_repetition``) while everything here is
    row-local — compose the two with a join when the full rule set is
    wanted, keeping this op shuffle-free inside the scan.

    Rules (fail → reason string, in this order):
      word count outside [min_words, max_words]      → 'word_count'
      mean word length outside [min/max_word_len]    → 'word_length'
      '#'/ellipsis symbols per word > max_symbol_ratio → 'symbol_ratio'
      words containing a letter < min_alpha_frac     → 'alpha_words'
      distinct stopword kinds < min_stop_kinds       → 'stopwords'
      lines starting with a bullet > max_bullet_frac → 'bullet_lines'
      lines ending in an ellipsis > max_ellipsis_frac → 'ellipsis_lines'

    Scale shape: every signal is a codegen expression over the row
    (regexp_count with zero-width lookarounds for token-boundary counts,
    (?m) anchors for line fractions, one array_intersect for distinct
    stopword kinds) — no shuffle, no UDF; the filter pipelines inside
    the parquet scan and Catalyst pushes any downstream ``keep`` filter
    into it."""
    sw = stopwords or GOPHER_STOPWORDS
    c = F.col(text_col)
    ltoks = F.split(F.lower(F.trim(c)), r"\s+")
    n_words = F.size(ltoks)
    nd = n_words.cast("double")
    mean_len = avg_token_length(c)
    n_symbols = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    symbol_ratio = n_symbols.cast("double") / nd
    # tokens containing at least one ASCII letter, counted at token
    # boundaries inside codegen (lookaround trick — see _lang_hits)
    n_alpha = F.regexp_count(
        F.lower(F.trim(c)),
        F.lit(r"(?<=^|\s)[^\s]*[a-z][^\s]*(?=\s|$)"))
    alpha_frac = n_alpha.cast("double") / nd
    n_stop_kinds = F.size(F.array_intersect(
        F.array_distinct(ltoks), F.lit(sw)))
    lines = F.split(c, "\n", -1)
    n_lines = F.size(lines).cast("double")
    bullet_frac = (F.regexp_count(c, F.lit(r"(?m)^[ \t]*[-*•]"))
                   .cast("double") / n_lines)
    ellipsis_frac = (F.regexp_count(c, F.lit(r"(?m)(?:\.\.\.|…)$"))
                     .cast("double") / n_lines)

    reasons = F.array_compact(F.array(
        F.when((n_words < min_words) | (n_words > max_words),
               F.lit("word_count")),
        F.when((mean_len < min_word_len) | (mean_len > max_word_len),
               F.lit("word_length")),
        F.when(symbol_ratio > max_symbol_ratio, F.lit("symbol_ratio")),
        F.when(alpha_frac < min_alpha_frac, F.lit("alpha_words")),
        F.when(n_stop_kinds < min_stop_kinds, F.lit("stopwords")),
        F.when(bullet_frac > max_bullet_frac, F.lit("bullet_lines")),
        F.when(ellipsis_frac > max_ellipsis_frac,
               F.lit("ellipsis_lines")),
    ))
    return df.withColumns({
        "n_words": n_words,
        "mean_word_len": mean_len,
        "symbol_ratio": symbol_ratio,
        "alpha_word_frac": alpha_frac,
        "n_stop_kinds": n_stop_kinds,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "reasons": reasons,
        "keep": F.size(reasons) == 0,
    })


def token_stats(df: DataFrame, group_col: str = "lang",
                text_col: str = "text") -> DataFrame:
    """Per-group corpus statistics for mixture planning and tokenizer
    fertility analysis: document/token/char/byte totals plus
    ``bytes_per_token`` (UTF-8 fertility — the signal that flags
    languages or domains a whitespace-ish tokenizer serves poorly) and
    ``tokens_per_doc``. Groups with NULL key are kept as their own row
    (a NULL-lang slice is exactly what this report should surface).

    Determinism: every total is an exact integer aggregate (token count
    via the tokenizer's own split; char total via the whitespace-stripped
    length identity — both whole-stage codegen, no HOFs); each ratio is
    ONE double division of two exact integers — identical in any engine,
    under any partitioning. One map-side-combined shuffle on the group
    key (group cardinality = languages/domains, never corpus-sized)."""
    toks = token_count(F.col(text_col))
    chars = F.length(F.regexp_replace(F.trim(F.col(text_col)),
                                      r"\s+", ""))
    agg = (df.groupBy(F.col(group_col).alias(group_col))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(toks).alias("n_tokens"),
                F.sum(chars).alias("n_chars"),
                F.sum(F.octet_length(F.col(text_col))).alias("n_bytes")))
    return agg.select(
        group_col, "n_docs", "n_tokens", "n_chars", "n_bytes",
        (F.col("n_bytes").cast("double") / F.col("n_tokens"))
        .alias("bytes_per_token"),
        (F.col("n_tokens").cast("double") / F.col("n_docs"))
        .alias("tokens_per_doc"))


def bm25_topk(df: DataFrame, query_terms: List[str], n: int = 100,
              k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Okapi BM25 keyword retrieval: top-``n`` documents for a constant
    term list — the relevance-ranking primitive behind corpus search and
    retrieval-based data selection.

    Two corpus passes, both fully whole-stage-codegen: (1) one
    map-side-combined aggregate collects the O(1) model state — doc count,
    total doc length, per-term document frequencies (term frequencies come
    from the zero-width-lookaround ``regexp_count`` trick, so no token
    array is ever built); (2) a row-local rescoring pass feeding an
    ``orderBy().limit()`` that plans as TakeOrdered (per-partition top-n,
    tiny driver merge — never a global sort). At 100 TB prefer the two
    pruned parquet scans over persisting a corpus-sized annotated frame.

    Cross-engine float exactness (the DuckDB oracle hash-matches scores):
    idf uses CPython ``math.log`` — bit-identical to DuckDB ``ln`` (both
    glibc; numpy's SIMD log is NOT) — over exact-integer (N, df); every
    derived constant is embedded via ``repr`` so both engines fold the
    same doubles; the per-term score keeps ONE expression shape
    (``idf * ((tf * k1p1) / (tf + k1 * (omb + b * dl / avgdl)))``, no
    algebraic redistribution — IEEE ``*``/``/`` don't associate); and the
    term sum is a fixed left-associated chain in term-list order, never a
    float aggregate. Docs matching no term (or NULL text) score 0/NULL
    and are filtered."""
    import math
    import re

    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    c = F.col(text_col)
    low = F.lower(F.trim(c))

    def tf_col(term):
        pat = "(?<=^|\\s)" + re.escape(term) + "(?=\\s|$)"
        return F.regexp_count(low, F.lit(pat))

    dl = token_count(c)
    stats = (df.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(dl).alias("sum_dl"),
                    *[F.sum((tf_col(t) > 0).cast("bigint")).alias(f"df{i}")
                      for i, t in enumerate(terms)])
             .collect()[0])
    n_docs, sum_dl = int(stats["n"]), int(stats["sum_dl"] or 0)
    if n_docs == 0:
        return (df.select(F.col(id_col), F.lit(0.0).alias("score"))
                .where(F.lit(False)))
    avgdl = sum_dl / n_docs
    k1p1, omb = k1 + 1.0, 1.0 - b

    score = None
    for i, t in enumerate(terms):
        dft = int(stats[f"df{i}"] or 0)   # all-NULL text: df is NULL
        idf = math.log(1.0 + ((n_docs - dft) + 0.5) / (dft + 0.5))
        tf = tf_col(t).cast("double")
        part = (F.lit(idf)
                * ((tf * F.lit(k1p1))
                   / (tf + F.lit(k1)
                      * (F.lit(omb)
                         + F.lit(b) * dl.cast("double") / F.lit(avgdl)))))
        score = part if score is None else score + part
    return (df.select(F.col(id_col), score.alias("score"))
            .where(F.col("score") > 0)
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(n))


def _bpe_merge_udf(merge_pairs):
    """Arrow-vectorized canonical BPE merge application for a RANK-ORDERED
    batch of merges: each (px, py) is one full greedy left-to-right pass
    replacing adjacent (px, py) token pairs with their concatenation —
    applied strictly in batch order, so the result is identical to
    ``len(merge_pairs)`` sequential single-merge rounds by construction.
    Greedy-sequential semantics (a freshly merged token is immediately
    eligible as the LEFT context of the next comparison) match the
    reference BPE algorithm on self-overlapping runs — 'a'×5 under (a,a)
    gives [aa, aa, a] — and are exactly what the oracle's list_reduce
    fold replays, one fold per merge rank."""
    import pandas as pd

    pairs = list(merge_pairs)

    @F.pandas_udf("array<string>")
    def mrg(states):
        out = []
        for toks in states.tolist():
            if toks is None:
                out.append(None)
                continue
            res = list(toks)
            for px, py in pairs:
                src, res = res, []
                for t in src:
                    if res and res[-1] == px and t == py:
                        res[-1] = px + py
                    else:
                        res.append(t)
            out.append(res)
        return pd.Series(out, dtype=object)

    return mrg


def _bpe_safe_batch(rows, applied_tokens, limit):
    """The maximal prefix of the sorted pair-count rows that can be applied
    in ONE round with results bit-identical to one-merge-per-round
    training. ``rows`` are (lhs, rhs, cnt) in the sequential selection
    order (cnt DESC, lhs, rhs); ``applied_tokens`` is the set of
    concatenations of every previously applied merge (multi-char tokens
    can only ever be created by merges, so this is exactly the set of
    existing multi-char token strings).

    Safety argument (each condition removes one way sequential round i+1
    could pick something other than the batch's (i+1)-th pair):

    1. PREFIX of the sorted list, cut at the FIRST pair sharing a token
       with an earlier selected pair — selected pairs are pairwise
       token-disjoint, so applying one cannot change another's count
       (only pairs overlapping a merge site change, and those share a
       token with the merged pair); and every conflicting/excluded pair
       sorts strictly after the whole batch.
    2. Each selected concatenation lhs+rhs must be a BRAND-NEW token
       string (not in ``applied_tokens``, not created earlier in this
       batch) — otherwise existing pairs with that token as an endpoint
       could GAIN count mid-batch and overtake later batch members.
       With brand-new concatenations, every pair that gains count is a
       new pair (x, t) whose count is bounded by an old pair sharing an
       endpoint with a batch member — an excluded pair — EXCEPT when the
       member is a SELF-PAIR (lhs == rhs, see 2b).
    2b. A self-pair (c, c) TERMINATES its batch: applying it over runs
       of c spawns (cc, cc) and (cc, c) whose counts are bounded only by
       the member's OWN count (the 'source' adjacency is the member
       itself, not an excluded pair), so they may outrank any later
       batch member. As the last member it is safe — the next round
       recomputes counts from the updated table. (Found by an
       adversarial review: corpus 'bbbbbb'×5... gave batched (a,a)
       before (bb,bb) where sequential orders them the other way.)
    3. STRICT count drop at the cut: the last selected count must exceed
       the first excluded pair's count (old pairs only lose count and new
       pairs are bounded by excluded-pair counts, so everything outside
       the batch stays strictly below every batch member through every
       intermediate round — no tie-break can reorder). A batch of one
       needs no drop: it replicates the sequential round exactly.
    """
    batch = []
    used, new_ts = set(), set()
    for lhs, rhs, cnt in rows:
        if len(batch) >= limit:
            break
        if batch:
            if lhs in used or rhs in used or lhs in new_ts or rhs in new_ts:
                break
            t = lhs + rhs
            if t in applied_tokens or t in new_ts:
                break
        batch.append((lhs, rhs, cnt))
        used.update((lhs, rhs))
        new_ts.add(lhs + rhs)
        if lhs == rhs:  # condition 2b: self-pair closes the batch
            break
    # strictness at the cut (condition 3): only needed when pairs remain
    while len(batch) > 1 and len(batch) < len(rows) \
            and rows[len(batch)][2] >= batch[-1][2]:
        batch.pop()
    return batch


def bpe_train(df: DataFrame, n_merges: int = 10, text_col: str = "text",
              lowercase: bool = True) -> DataFrame:
    """Learn byte-pair-encoding merge rules from a corpus →
    (merge_rank, lhs, rhs, pair_count) — the tokenizer-training step of a
    data pipeline (Sennrich et al. 2016; the word-frequency formulation
    every production BPE trainer uses).

    Scale shape: the CORPUS is touched exactly once — one map-side-
    combined word-frequency groupBy (the only corpus-scale shuffle).
    Training then runs over the DISTINCT-VOCAB table only (orders of
    magnitude smaller, but still distributed — web-scale vocabs run to
    10^8 words, far too big to collect as HF's in-memory trainer would)
    in BATCHED rounds: one pair-count aggregate with frequency weights
    feeding a top-K collect via orderBy().limit(K) (TakeOrdered — never
    a sort), a driver-side O(K) selection of the maximal batch of merges
    provably equal to one-merge-per-round training (see _bpe_safe_batch:
    pairwise token-disjoint sorted prefix, brand-new concatenations,
    strict count drop at the cut), then ONE Arrow pass applying the whole
    batch in rank order. The driver sees O(K) per round; each round
    persists its state and releases the previous one. Batching removes
    the per-merge fixed-job-overhead floor: at production merge counts
    (2k–32k) rounds collapse by the typical batch width (Zipfian pair
    counts tie rarely, so batches run tens wide), while results stay
    bit-identical to sequential rounds — the DuckDB oracle still replays
    one merge per rank.

    Determinism / oracle parity: greedy left-to-right merge application
    (see _bpe_merge_udf); argmax ties break lexicographically (lhs, rhs);
    training stops early when no pair remains. Words are restricted to
    printable ASCII (``^[!-~]+$``) so per-character indexing agrees
    across engines (Spark substring counts UTF-16 code units, DuckDB
    counts codepoints — equal only on ASCII); extend with an
    ICU-consistent pre-segmenter for full Unicode."""
    merges, vocab = _bpe_learn(df, n_merges, text_col, lowercase)
    vocab.unpersist()
    return df.sparkSession.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count bigint")


def _bpe_words(df: DataFrame, text_col: str, lowercase: bool):
    """The shared whitespace + printable-ASCII word split (see bpe_train
    for why ASCII)."""
    c = F.trim(F.col(text_col))
    if lowercase:
        c = F.lower(c)
    return (df.select(F.explode(F.split(c, r"\s+")).alias("word"))
            .where(F.col("word").rlike("^[!-~]+$")))


def _bpe_learn(df: DataFrame, n_merges: int, text_col: str,
               lowercase: bool):
    """Training loop shared by bpe_train / bpe_encode_stats → (merges
    list, PERSISTED vocab frame (word, n, st) holding post-merge token
    states — the caller owns the unpersist)."""
    # per-char init state is an interpreted HOF — fine, it runs over the
    # distinct vocab once, not the corpus
    words = (_bpe_words(df, text_col, lowercase)
             .groupBy("word").agg(F.count("*").alias("n"))
             .withColumn("st", F.expr(
                 "transform(sequence(1, char_length(word)), "
                 "j -> substring(word, j, 1))"))
             .persist())

    merges = []
    applied_tokens: set = set()
    cur = words
    prev = None
    while len(merges) < n_merges:
        remaining = n_merges - len(merges)
        # top-K (TakeOrdered — never a sort) instead of top-1: the driver
        # derives the maximal SAFE batch of merges from the O(K) rows (see
        # _bpe_safe_batch), collapsing up to `remaining` per-merge Spark
        # rounds into one. K is remaining+8 so the strictness sentinel
        # (first excluded pair) is almost always in hand; row K itself is
        # never selected (the table may hold more pairs beyond it).
        k_rows = min(remaining + 8, 1024)
        top = (cur.where(F.size("st") >= 2)
               .select("n", F.explode(F.expr(
                   "transform(sequence(1, size(st) - 1), "
                   "j -> struct(element_at(st, j) AS lhs, "
                   "element_at(st, j + 1) AS rhs))")).alias("p"))
               .groupBy("p.lhs", "p.rhs")
               .agg(F.sum("n").alias("cnt"))
               .orderBy(F.col("cnt").desc(), "lhs", "rhs")
               .limit(k_rows).collect())
        # the collect above materialized cur's cache, so its parent can go
        # now — deferring the unpersist one round replaces a per-round
        # count() materialization job (measured: ~half the round cost at
        # small vocab, where fixed job overhead dominates)
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        rows = [(r["lhs"], r["rhs"], int(r["cnt"])) for r in top]
        limit = remaining if len(rows) < k_rows else min(remaining,
                                                        k_rows - 1)
        batch = _bpe_safe_batch(rows, applied_tokens, limit)
        for px, py, cnt in batch:
            merges.append((len(merges) + 1, px, py, cnt))
            applied_tokens.add(px + py)
        nxt = (cur.withColumn(
            "st", _bpe_merge_udf([(px, py) for px, py, _ in batch])
            (F.col("st"))).persist())
        prev = cur
        cur = nxt
    if prev is not None:
        # final state was never materialized: do it while its parent is
        # still cached, or a downstream consumer recomputes the whole chain
        cur.count()
        prev.unpersist()
    return merges, cur


def bpe_encode_stats(df: DataFrame, n_merges: int = 10,
                     id_col: str = "doc_id", text_col: str = "text",
                     lowercase: bool = True) -> DataFrame:
    """Apply a corpus-trained BPE tokenizer back to the corpus →
    (id, n_bpe_tokens, n_chars) per document — the token-budget /
    fertility measurement a pipeline runs before packing or pricing a
    training mix with a freshly trained tokenizer.

    The scale split: training touches only the distinct vocab (see
    bpe_train); APPLICATION never runs Python over the corpus at all —
    the per-word BPE token count is precomputed on the vocab table once,
    then the corpus pass is explode + broadcast hash join + one map-side-
    combined sum. Words outside the printable-ASCII filter drop out of
    both counts (inner join), exactly as they were excluded from
    training; documents with no surviving words yield no row."""
    from . import cache

    merges, vocab = _bpe_learn(df, n_merges, text_col, lowercase)
    per_word = vocab.select("word", F.size("st").alias("n_tok"),
                            F.char_length("word").alias("n_chr"))
    c = F.trim(F.col(text_col))
    if lowercase:
        c = F.lower(c)
    doc_words = (df.select(F.col(id_col),
                           F.explode(F.split(c, r"\s+")).alias("word"))
                 .where(F.col("word").rlike("^[!-~]+$")))
    out = (doc_words.join(F.broadcast(per_word), "word")
           .groupBy(id_col)
           .agg(F.sum("n_tok").alias("n_bpe_tokens"),
                F.sum("n_chr").alias("n_chars")))
    return cache.register(out, vocab)


def bigram_nll(df: DataFrame, reference: Optional[DataFrame] = None,
               alpha: float = 1.0, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Perplexity-style LM quality scoring → (id, n_bigrams, avg_nll):
    each document's average negative log-likelihood under an add-``alpha``
    smoothed bigram language model trained on ``reference`` (CCNet's
    perplexity filtering, Wenzek et al. 2020 — LM trained on a trusted
    domain, low avg_nll ≈ fluent text; completes the model-based-filter
    triad next to classifier_score and dsir_weights). ``reference``
    defaults to the corpus itself.

    Model: p(w2|w1) = (c(w1,w2)+α) / (c(w1)+α·V), V = reference vocab
    size; avg_nll = −Σ ln p / n_bigrams. Unseen words/bigrams smooth
    through the same formula with zero counts.

    Determinism (the oracle hash-matches): per-bigram ln terms use glibc
    ``math.log`` over exact integer counts (bit-identical to DuckDB
    ``ln``) in ONE expression shape, quantized to integer micro-nats
    (×1e9, round half away from zero — the dsir_weights recipe), so the
    per-document aggregation is an EXACT integer sum under any
    partitioning; the two divisions back to nats happen once per output
    row.

    Scale shape: bigram generation is row-local codegen (posexplode +
    element_at, no HOFs); per-(doc, bigram) counts are one map-side-
    combined shuffle; the ln pass runs over the MODEL-sized distinct-
    bigram table, never the corpus; reference passes are bounded by the
    reference (typically a domain sample — its count tables broadcast).
    Documents with fewer than two tokens have no bigrams and yield no
    row. At extreme vocabularies swap the word keys for the dsir hashing
    trick to bound the model tables."""
    import math

    import pandas as pd  # noqa: F401  (pandas_udf runtime dep)

    from . import cache

    ref = reference if reference is not None else df

    def _pairs(frame):
        tk = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        return (frame
                .select(F.col(id_col), tk.alias("tk"))
                .select(id_col, "tk",
                        F.posexplode("tk").alias("j", "w1"))
                .where(F.col("j") < F.size("tk") - 1)
                .select(id_col, "w1",
                        F.element_at("tk", F.col("j") + 2).alias("w2")))

    def _words(frame):
        tk = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        return frame.select(F.explode(tk).alias("w"))

    dbc = (_pairs(df).groupBy(id_col, "w1", "w2")
           .agg(F.count(F.lit(1)).alias("c")).persist())
    ru = _words(ref).groupBy("w").agg(F.count(F.lit(1)).alias("cu")).persist()
    rb = _pairs(ref).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))

    v_size = ru.count()
    if v_size == 0:
        dbc.unpersist()
        ru.unpersist()
        raise ValueError("bigram_nll: empty reference vocabulary")
    a = float(alpha)
    a_v = a * v_size

    from .dedup import round_half_away

    @F.pandas_udf("bigint")
    def term_micro(cb_s, cu_s):
        return pd.Series([round_half_away(
            math.log((cb + a) / (cu + a_v)) * 1e9)
            for cb, cu in zip(cb_s.tolist(), cu_s.tolist())])

    terms = (dbc.select("w1", "w2").distinct()
             .join(rb, ["w1", "w2"], "left")
             .join(ru.withColumnRenamed("w", "w1"), "w1", "left")
             .select("w1", "w2",
                     term_micro(F.coalesce(F.col("cb"), F.lit(0)),
                                F.coalesce(F.col("cu"), F.lit(0)))
                     .alias("micro")))

    out = (dbc.join(terms, ["w1", "w2"])
           .groupBy(id_col)
           .agg(F.sum("c").alias("n_bigrams"),
                ((F.sum(F.col("c") * F.col("micro")).cast("double")
                  / F.lit(-1e9))
                 / F.sum("c").cast("double")).alias("avg_nll")))
    return cache.register(out, dbc, ru)


def tfidf_topk_terms(df: DataFrame, j: int = 5, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document keyword extraction → (id, term, rank, score_micro):
    the top-``j`` terms by tf·idf (smoothed idf = ln((N+1)/(df+1)) + 1) —
    the tagging/routing primitive a corpus pipeline runs before topic
    bucketing or retrieval indexing.

    Fully integer ranking: idf is quantized to micro-nats once per
    DISTINCT term (glibc ``math.log`` over exact integer (N, df), the
    dsir_weights lattice), so score = tf · idf_micro is an exact bigint
    and the (score desc, term asc) order is engine-exact with no float
    anywhere — the oracle hash-matches trivially.

    Scale shape: one explode + map-side-combined (doc, term) count
    shuffle; the document-frequency and idf passes run over the DISTINCT
    vocab only; the per-doc window is bounded by document length (never
    a hot-key risk). NULL/empty documents contribute no terms and yield
    no rows."""
    import math

    import pandas as pd  # noqa: F401  (pandas_udf runtime dep)

    from pyspark.sql import Window

    from . import cache

    tk = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    wc = (df.select(F.col(id_col), F.explode(tk).alias("term"))
          .where(F.col("term") != "")
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")).persist())
    n_docs = df.count()

    from .dedup import round_half_away

    @F.pandas_udf("bigint")
    def idf_micro(df_s):
        return pd.Series([round_half_away(
            (math.log((n_docs + 1.0) / (dfw + 1.0)) + 1.0) * 1e9)
            for dfw in df_s.tolist()])

    dfreq = (wc.groupBy("term").agg(F.count(F.lit(1)).alias("dfw"))
             .select("term", idf_micro(F.col("dfw")).alias("idf")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_micro").desc(), "term")
    out = (wc.join(dfreq, "term")
           .withColumn("score_micro", F.col("tf") * F.col("idf"))
           .withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= j)
           .select(id_col, "term", "rank", "score_micro"))
    return cache.register(out, wc)


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document character-distribution Shannon entropy →
    (id, n_chars, entropy) in nats — the junk detector quality pipelines
    run next to the Gopher rules: binary blobs, key-mash, and
    repeated-character padding sit far outside natural text's ~2.9–3.3
    nat band (natural text ≈ low entropy relative to random bytes, high
    relative to 'aaaa…').

    Exactness: entropy = ln n − (Σ c·ln c)/n over the per-(doc, char)
    counts. Both ln families are computed ONCE PER DISTINCT COUNT VALUE
    (a tiny domain — counts and doc lengths, not corpus rows) with glibc
    ``math.log`` quantized to integer micro-nats, so Σ c·ln c is an
    EXACT bigint under any partitioning and the final expression is two
    IEEE ops on exact inputs — the oracle hash-matches.

    Scale shape: the char explode is row-local (fan-out = document
    length, the same cost any per-char op pays); per-(doc, char) counts
    map-side combine; both ln passes run over distinct-value tables that
    broadcast. NULL/empty documents yield no row."""
    import math

    import pandas as pd  # noqa: F401  (pandas_udf runtime dep)

    from . import cache

    from .dedup import round_half_away

    @F.pandas_udf("bigint")
    def ln_micro(x_s):
        return pd.Series([round_half_away(math.log(x) * 1e9)
                          for x in x_s.tolist()])

    cc = (df.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), "")).alias("ch"))
          .where(F.col("ch") != "")
          .groupBy(id_col, "ch")
          .agg(F.count(F.lit(1)).alias("c")).persist())
    lnc = (cc.select("c").distinct()
           .select("c", ln_micro(F.col("c")).alias("mlc")))
    # sums feeds BOTH the lnn distinct pass and the final join — persist
    # or the doc-count-sized aggregation runs twice per action
    sums = (cc.join(F.broadcast(lnc), "c")
            .groupBy(id_col)
            .agg(F.sum("c").alias("n_chars"),
                 F.sum(F.col("c") * F.col("mlc")).alias("s")).persist())
    lnn = (sums.select("n_chars").distinct()
           .select("n_chars", ln_micro(F.col("n_chars")).alias("mln")))
    out = (sums.join(F.broadcast(lnn), "n_chars")
           .select(id_col, "n_chars",
                   ((F.col("mln").cast("double")
                     - (F.col("s").cast("double")
                        / F.col("n_chars").cast("double")))
                    / F.lit(1e9)).alias("entropy")))
    return cache.register(out, cc, sums)
