"""Text-analysis operators for large-scale training-data pipelines:
tokenization, language ID, quality scoring, fingerprinting.

Beyond the reference's surface (BASELINE.json north star): these are the
document-level primitives a 100 TB corpus pipeline needs. Everything is
native Column expressions (regexp/array functions — JVM-side, codegen),
no Python UDFs, so a full-corpus pass is one scan with no serde.

Shared constants (token pattern, stopword lists) are module-level so the
DuckDB oracle SQL is generated from the same source of truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions.core import safe_div

TOKEN_PATTERN = "[a-z0-9]+"
PUNCT_PATTERN = r"[.,!?;:]"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Order matters: ties resolve in this order.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "los", "de", "y", "es"),
    "fr": ("le", "les", "et", "est", "un", "une"),
}


def tokens(text_col: str | Column = "text") -> Column:
    """Lowercased alphanumeric tokens (the BPE-ish regex tokenizer)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # idx=0 → whole-match extraction (the pattern has no capture group)
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def token_count() -> Column:
    c = F.col("text")
    return F.regexp_count(F.lower(c), F.lit(TOKEN_PATTERN)).cast("int")


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Occurrence count (with multiplicity) of ``words`` in the token
    list — ``size(filter(...))``, row-local, no shuffle."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def text_stats(df: DataFrame) -> DataFrame:
    """Quality-scoring feature block: lengths, punctuation density,
    stopword ratio, mean token length."""
    toks = tokens()
    n_tok = token_count()
    n_char = F.length(F.col("text")).cast("int")
    punct = F.regexp_count(F.col("text"), F.lit(PUNCT_PATTERN)).cast("int")
    stop_en = _stopword_hits(toks, LANG_STOPWORDS["en"])
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_obs": n_char,
            "punct_count": punct,
            "punct_ratio": safe_div(punct.cast("double"), n_char),
            "stopword_count": stop_en,
            "stopword_ratio": safe_div(stop_en.cast("double"), n_tok),
            "mean_token_len": safe_div(
                F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast(
                    "double"
                ),
                n_tok,
            ),
        }
    )


# C4/Gopher-style quality gates (tuned to the fixture distributions:
# token-count p5 ≈ 16, stopword-ratio median ≈ 0.06, mean token length
# p95 ≈ 4.8 — each rule fails a real slice of the corpus)
QUALITY_MIN_TOKENS = 20
QUALITY_MIN_STOPWORD_RATIO = 0.02
QUALITY_MAX_MEAN_TOKEN_LEN = 8.0
QUALITY_MAX_PUNCT_RATIO = 0.1


def quality_filter(df: DataFrame) -> DataFrame:
    """The training-corpus cleaning step: compose the quality stats into
    keep/drop decisions with machine-readable reasons (the C4-style
    heuristic filter — too short, stopword-poor i.e. likely non-prose,
    gibberish-long tokens, punctuation-heavy).

    Row-local: one scan, no shuffle; ``fail_reasons`` is a ','-joined
    string in fixed rule order (``concat_ws`` skips the NULLs of
    passing rules), ``kept`` is its emptiness — both exactly
    reproducible in ANSI SQL for the oracle.
    """
    s = text_stats(df)
    rules = [
        ("too_short", F.col("n_tokens") < QUALITY_MIN_TOKENS),
        ("low_stopword", F.col("stopword_ratio") < QUALITY_MIN_STOPWORD_RATIO),
        ("long_tokens", F.col("mean_token_len") > QUALITY_MAX_MEAN_TOKEN_LEN),
        ("high_punct", F.col("punct_ratio") > QUALITY_MAX_PUNCT_RATIO),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return s.withColumns(
        {"fail_reasons": reasons, "kept": (reasons == "").cast("int")}
    )


def quality_filter_sql(src: str = "documents") -> str:
    """``src`` parameterizes the input CTE/table (default keeps the
    x14 oracle byte-identical) so the x74 funnel can apply the same
    rules to a survivor set."""
    toks = tokens_sql()
    stop = stopword_hits_sql("toks", LANG_STOPWORDS["en"])
    return f"""
        WITH t AS (SELECT doc_id, text, {toks} AS toks FROM {src}),
        s AS (
            SELECT doc_id,
                len(toks) AS n_tokens,
                CAST(len(regexp_extract_all(text, '{PUNCT_PATTERN}')) AS DOUBLE)
                    / length(text) AS punct_ratio,
                CAST({stop} AS DOUBLE) / len(toks) AS stopword_ratio,
                CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                     AS DOUBLE) / len(toks) AS mean_token_len
            FROM t
        ),
        r AS (
            SELECT doc_id,
                concat_ws(',',
                    CASE WHEN n_tokens < {QUALITY_MIN_TOKENS}
                         THEN 'too_short' END,
                    CASE WHEN stopword_ratio < {QUALITY_MIN_STOPWORD_RATIO}
                         THEN 'low_stopword' END,
                    CASE WHEN mean_token_len > {QUALITY_MAX_MEAN_TOKEN_LEN}
                         THEN 'long_tokens' END,
                    CASE WHEN punct_ratio > {QUALITY_MAX_PUNCT_RATIO}
                         THEN 'high_punct' END) AS fail_reasons
            FROM s
        )
        SELECT doc_id, fail_reasons,
               CAST(fail_reasons = '' AS INT) AS kept
        FROM r
    """


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-hit language ID: argmax over per-language stopword
    occurrence counts, ties broken in LANG_STOPWORDS order."""
    toks = tokens()
    counts = {lang: _stopword_hits(toks, words) for lang, words in LANG_STOPWORDS.items()}
    langs = list(counts)
    pred = F.lit(langs[-1])
    # Build the CASE chain back-to-front so earlier languages win ties.
    for lang in reversed(langs[:-1]):
        later = [counts[x] for x in langs[langs.index(lang) + 1 :]]
        cond = None
        for lc in later:
            c = counts[lang] >= lc
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return df.withColumn("lang_pred", pred)


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprints: ``fp_exact`` (md5 of raw text — exact-dup
    key) and ``fp_bag`` (md5 of the sorted distinct token bag —
    word-order-insensitive near-exact key)."""
    toks = tokens()
    return df.withColumns(
        {
            "fp_exact": F.md5(F.col("text").cast("binary")),
            "fp_bag": F.md5(
                F.concat_ws(" ", F.array_sort(F.array_distinct(toks))).cast("binary")
            ),
        }
    )


ROLL_BASE = 31
ROLL_MOD = 2_147_483_647  # 2^31 - 1; base*mod + 255 < 2^63, no overflow
WINNOW_K = 16  # k-gram length for the winnowing fingerprint


def _char_codes(text_col: str | Column) -> Column:
    """Per-character code points as bigints — the rolling-hash input.
    Empty fragments from the char split are dropped (engine/SQL split
    conventions differ on boundary empties)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    chars = F.filter(F.split(c, ""), lambda ch: ch != "")
    return F.transform(chars, lambda ch: F.ascii(ch).cast("bigint"))


def rolling_fingerprint(df: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprints (Rabin–Karp polynomial fold):

    - ``fp_roll`` — the whole-document rolling hash
      ``h ← (h·B + code) mod M`` over character codes: one row-local
      left fold, zero shuffle, O(doc length).
    - ``fp_winnow`` — winnowing-style selection: the MIN of the rolling
      hashes of all ``WINNOW_K``-char grams, robust to local edits
      (Schleimer et al.'s winnowing idea reduced to min-sampling, the
      standard content-defined fingerprint for near-dup detection).

    Both are pure arithmetic folds (no hashing builtins), so the DuckDB
    oracle evaluates the IDENTICAL integer recurrence via
    ``list_reduce`` — bit-exact cross-engine.
    """
    zero = F.lit(0).cast("bigint")
    # project codes once: the fold lambdas must reference a bound column,
    # not re-inline the split per element (same hazard as the shingle op)
    tmp = df.withColumn("__codes", _char_codes("text"))
    codes_c = F.col("__codes")
    roll_c = F.aggregate(codes_c, zero, lambda a, x: (a * ROLL_BASE + x) % ROLL_MOD)
    ng_c = F.size(codes_c) - (WINNOW_K - 1)
    grams_c = F.transform(
        F.sequence(F.lit(1), F.greatest(ng_c, F.lit(0))),
        lambda i: F.aggregate(
            F.slice(codes_c, i, WINNOW_K), zero,
            lambda a, x: (a * ROLL_BASE + x) % ROLL_MOD,
        ),
    )
    winnow_c = F.when(ng_c >= 1, F.array_min(grams_c)).otherwise(roll_c)
    return tmp.withColumns({"fp_roll": roll_c, "fp_winnow": winnow_c}).drop("__codes")


def rolling_fp_sql() -> str:
    """DuckDB twin of ``rolling_fingerprint`` — same integer recurrence
    via 2-arg ``list_reduce`` with a prepended 0 seed (DuckDB's reduce
    uses the first element as the accumulator seed)."""
    codes = (
        "list_transform(list_filter(string_split(text, ''), c -> c <> ''),"
        " c -> CAST(ascii(c) AS BIGINT))"
    )
    fold = f"(a, b) -> (a * {ROLL_BASE} + b) % {ROLL_MOD}"
    roll = f"list_reduce(list_prepend(CAST(0 AS BIGINT), codes), {fold})"
    gram = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_slice(codes, i, i + {WINNOW_K - 1})), {fold})"
    )
    return f"""
        WITH c AS (SELECT doc_id, {codes} AS codes FROM documents)
        SELECT doc_id,
            {roll} AS fp_roll,
            CASE WHEN len(codes) - {WINNOW_K - 1} >= 1
                 THEN list_min(list_transform(
                     generate_series(1, len(codes) - {WINNOW_K - 1}),
                     i -> {gram}))
                 ELSE {roll} END AS fp_winnow
        FROM c
    """


def simhash32_long(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """32-bit SimHash as a LONG (bit 31 = the sketch's first bit).

    Each token votes ±1 on 32 bit positions; the vote for position *i*
    is the parity of the *i*-th hex digit of ``md5(token)``. The final
    bit is 1 iff the summed vote is positive. The whole computation is a
    row-local array fold (``aggregate`` over the token list) — zero
    shuffle, linear scan, which is what makes SimHash the scale-path
    near-dup sketch for a 100 TB corpus.

    The per-token parity extraction is ONE ``translate`` (hex digit →
    its parity char) folded to a 32-bit integer mask by ``conv``; the
    vote update is then pure integer shift/mask arithmetic over an int
    array — no per-token ``split`` into 32 single-char strings and no
    per-bit string comparison (the r16 optimization: the string fold
    allocated 32 UTF8Strings per token on the dominant-CPU path of the
    x15/x16 family; this form is value-identical and keeps every
    downstream shuffle/banding/Hamming step on an 8-byte LONG instead
    of a 32-char string — guide §2.3 'narrower types').
    """

    def tok_mask(t: Column) -> Column:
        # md5 hex digit i's parity becomes bit (31 - i) of the mask, so
        # the mask's MSB-first bit order equals the hex-digit order.
        return F.conv(
            F.translate(
                F.md5(t.cast("binary")),
                "0123456789abcdef",
                "0101010101010101",
            ),
            2,
            10,
        ).cast("long")

    bit_idx = F.sequence(F.lit(31), F.lit(0), F.lit(-1))
    zeros = F.transform(F.sequence(F.lit(1), F.lit(32)), lambda _: F.lit(0))
    # One md5+conv per TOKEN (bound here, outside the per-bit lambda —
    # inlining tok_mask into the bit extraction would re-hash the token
    # 32×: higher-order-function lambdas get no common-subexpression
    # elimination).
    masks = F.transform(tokens(text_col), tok_mask)
    votes = F.aggregate(
        masks,
        zeros,
        lambda acc, m: F.zip_with(
            acc,
            F.transform(
                bit_idx,
                lambda i: F.call_function("shiftright", m, i).bitwiseAND(
                    F.lit(1).cast("long")
                ),
            ),
            # b is the 0/1 parity bit: a + (2b - 1) adds the ±1 vote
            # branch-free.
            lambda a, b: a + b.cast("int") * 2 - 1,
        ),
    )
    sh = F.aggregate(
        votes,
        F.lit(0).cast("long"),
        # MSB-first left fold: doubling shifts previous bits up, so
        # votes[0] lands on bit 31 — same bit order as the string form.
        lambda acc, v: acc * 2 + F.when(v > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return df.withColumn(out_col, sh)


def simhash32(df: DataFrame) -> DataFrame:
    """32-bit SimHash as a bit string (the published x4 sketch form):
    the LONG sketch of :func:`simhash32_long` rendered once per doc —
    ``lpad(bin(v), 32)`` is exactly the MSB-first bit string the
    previous string fold produced, at the integer fold's cost."""
    tmp = "__simhash_long"
    return (
        simhash32_long(df, "text", tmp)
        .withColumn("simhash", F.lpad(F.bin(F.col(tmp)), 32, "0"))
        .drop(tmp)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL fragments (generated from the same constants)


def tokens_sql() -> str:
    return f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"


def stopword_hits_sql(toks_expr: str, words: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({toks_expr}, t -> list_contains({arr}, t)))"


def language_id_sql(toks_expr: str) -> str:
    langs = list(LANG_STOPWORDS)
    cases = []
    for idx, lang in enumerate(langs[:-1]):
        mine = stopword_hits_sql(toks_expr, LANG_STOPWORDS[lang])
        conds = " AND ".join(
            f"{mine} >= {stopword_hits_sql(toks_expr, LANG_STOPWORDS[other])}"
            for other in langs[idx + 1 :]
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"


def simhash32_sql(src: str = "documents") -> str:
    """Mirror of ``simhash32`` via explode/group (oracle-side only; the
    engine side stays row-local). ``src`` names the table/CTE holding
    (doc_id, text) so callers can hash an augmented corpus."""
    odd = "['1','3','5','7','9','b','d','f']"
    return f"""
        WITH simagg AS (
            SELECT doc_id, concat(string_agg(
                       CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY pos)) AS simhash
            FROM (
                SELECT doc_id, pos, sum(CASE WHEN list_contains({odd},
                           substr(md5(tok), pos, 1)) THEN 1 ELSE -1 END) AS vote
                FROM (
                    SELECT doc_id, unnest({tokens_sql()}) AS tok
                    FROM {src}
                ), generate_series(1, 32) AS g(pos)
                GROUP BY doc_id, pos
            )
            GROUP BY doc_id
        )
        -- token-less docs never explode: default their sketch to all-zeros
        SELECT d.doc_id, COALESCE(simagg.simhash, repeat('0', 32)) AS simhash
        FROM {src} d LEFT JOIN simagg ON d.doc_id = simagg.doc_id
    """


# ---------------------------------------------------------------------------
# Corpus-level training-data ops: vocabulary stats, deterministic splits

SPLIT_VAL_BUCKETS = ("c", "d")
SPLIT_TEST_BUCKETS = ("e", "f")


def hash_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment from a content-free hash
    of the document id: first hex digit of md5(id) → 16 buckets, split
    12/2/2 (75% train, 12.5% val, 12.5% test).

    Hash-bucket splits are the scale-correct way to partition a 100 TB
    corpus: the assignment is a row-local projection (no shuffle, no
    sampling state, no seed coordination across executors), it is
    stable under re-runs and under corpus growth (a doc never changes
    split), and downstream joins against the split column are plain
    predicates that prune at the scan. md5-hex is used instead of
    ``hash()`` so the DuckDB oracle can reproduce the bucket exactly
    (same trick as ``fingerprints``). This op owns the UNSALTED
    ``md5(id)`` family; any other id-hash-keyed decision (e.g.
    ``stratified_hash_sample``) must salt its hash or it will be
    perfectly correlated with the split buckets.
    """
    bucket = F.substring(
        F.md5(F.col(id_col).cast("string").cast("binary")), 1, 1
    )
    split = (
        F.when(bucket.isin(*SPLIT_VAL_BUCKETS), F.lit("val"))
        .when(bucket.isin(*SPLIT_TEST_BUCKETS), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumns({"bucket": bucket, "split": split})


def hash_split_sql() -> str:
    val = ", ".join(f"'{b}'" for b in SPLIT_VAL_BUCKETS)
    test = ", ".join(f"'{b}'" for b in SPLIT_TEST_BUCKETS)
    return f"""
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ({val}) THEN 'val'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ({test}) THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    """


# PII patterns kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB): character classes (explicit A-Z — no engine-dependent
# case-insensitivity flags), bounded repetition, no lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


def pii_scrub(df: DataFrame) -> DataFrame:
    """PII detection + redaction: count email/phone matches and emit
    the md5 of the redacted text (emails → ``<EMAIL>``, phones →
    ``<PHONE>``). Returns (id, n_emails, n_phones, redacted_md5).

    Scale shape: pure row-local regexp projections — one corpus scan,
    no shuffle, whole-stage codegen end to end. The digest stands in
    for shipping the redacted payload through the comparison harness;
    a real pipeline would write the redacted text column itself
    (swap ``F.md5`` for the raw column), at identical cost shape.
    """
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>"), PHONE_PATTERN, "<PHONE>"
    )
    return df.select(
        F.col("doc_id"),
        F.regexp_count(t, F.lit(EMAIL_PATTERN)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_PATTERN)).cast("int").alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


def pii_scrub_sql() -> str:
    """DuckDB twin of the PII scrub over the ``pii_aug`` CTE."""
    return f"""
        SELECT doc_id,
            CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS INT)
                AS n_emails,
            CAST(len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS INT)
                AS n_phones,
            md5(regexp_replace(
                regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                '{PHONE_PATTERN}', '<PHONE>', 'g')) AS redacted_md5
        FROM pii_aug
    """


# Per-stratum sampling rates for the rebalancing sampler: downsample
# the over-represented language, keep the tail. Thresholds are the
# first 8 hex digits of the rate scaled to 16^8, compared as strings.
SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.75, "es": 0.75, "fr": 0.75, "zh": 1.0}
SAMPLE_DEFAULT_FRACTION = 0.25
# Decorrelates the sample key from hash_split's unsalted md5(id):
# every id-hash-keyed op must draw from its own salted hash family.
SAMPLE_SALT = "#sample"


def _hex_threshold(fraction: float) -> str:
    if fraction >= 1.0:
        return "g"  # lexicographically above every hex digit → keep all
    return format(max(int(fraction * 16**8), 0), "08x")


def salted_id_key(id_col: str, salt: str) -> Column:
    """The shared salted content-free id key, ``md5(id || salt)`` as
    lowercase hex — ONE definition for every deterministic-selection op
    (stratified sampling, per-source quotas), because the Spark and SQL
    dialects of this expression must stay bit-identical for oracle
    parity (r5 review: two hand-rolled copies had already drifted
    cosmetically)."""
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)).cast("binary"))


def salted_id_key_sql(id_expr: str, salt: str) -> str:
    return f"md5(CAST({id_expr} AS VARCHAR) || '{salt}')"


def stratified_hash_sample(df: DataFrame) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling by content-free id
    hash: a row survives iff the first 8 hex digits of md5(id) fall
    below its stratum's threshold. The canonical corpus-rebalancing op
    (downsample the dominant language, keep the tail).

    This is the scale-correct way to subsample 100 TB: the decision is
    a row-local projection + string compare — no shuffle, no sampling
    state, no seed coordination across executors, no
    ``sample()``-style RNG whose output depends on partitioning. The
    same doc always gets the same verdict under re-runs, corpus
    growth, and repartitioning, so incremental pipelines never churn
    previously selected training data. Per-stratum rates are exact in
    expectation by md5 uniformity. The sample key is SALTED
    (``md5(id || '#sample')``) so it is statistically independent of
    ``hash_split``'s unsalted ``md5(id)`` buckets — with a shared
    hash, sampling at fraction f would keep only ids whose hash
    prefix is below f and thereby empty out the upper split buckets
    (val/test) entirely.
    """
    key = F.substring(salted_id_key("doc_id", SAMPLE_SALT), 1, 8)
    thr: Column = F.lit(_hex_threshold(SAMPLE_DEFAULT_FRACTION))
    for stratum, frac in sorted(SAMPLE_FRACTIONS.items()):
        thr = F.when(
            F.col("lang") == stratum, F.lit(_hex_threshold(frac))
        ).otherwise(thr)
    return df.withColumn("sample_key", key).filter(F.col("sample_key") < thr)


def stratified_sample_sql() -> str:
    cases = " ".join(
        f"WHEN '{stratum}' THEN '{_hex_threshold(frac)}'"
        for stratum, frac in sorted(SAMPLE_FRACTIONS.items())
    )
    thr = f"CASE lang {cases} ELSE '{_hex_threshold(SAMPLE_DEFAULT_FRACTION)}' END"
    key = f"substr({salted_id_key_sql('doc_id', SAMPLE_SALT)}, 1, 8)"
    return f"""
        SELECT doc_id, lang,
               {key} AS sample_key
        FROM documents
        WHERE {key} < {thr}
    """


BPE_MERGES = 2  # trained merge rounds
BPE_TOP_K = 5  # published pair ranks per round


def _char_symbols(tok: Column) -> Column:
    """Initial BPE symbol sequence: the token's characters, built by
    the same substr construction the oracle uses (no engine-specific
    empty-separator split semantics)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(tok)),
        lambda i: tok.substr(i, F.lit(1)),
    )


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right BPE merge application as an array fold:
    scan the symbol sequence once, replacing each non-overlapping
    adjacent (a, b) with the fused symbol — a merged symbol never
    re-pairs with the element that follows it within the same round
    (standard BPE single-pass semantics)."""
    fused = F.array(F.lit(a + b))
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), fused),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merges(df: DataFrame) -> DataFrame:
    """BPE tokenizer TRAINING in-engine: learn ``BPE_MERGES`` byte-pair
    merges from the corpus and publish, per round, the ``BPE_TOP_K``
    frequency-ranked adjacent-symbol pairs (rank 1 of rounds
    1..BPE_MERGES are the chosen merges; round BPE_MERGES+1's table is
    computed AFTER the last merge, so it hard-verifies that both merge
    applications actually rewrote the vocabulary).

    Scale shape — the trick that makes BPE training tractable at
    100 TB (and the one production trainers use): pair statistics are
    computed over the DISTINCT-WORD table weighted by word frequency,
    never over the raw corpus. One corpus-sized token count feeds a
    vocab-sized iteration: per round, a pair-keyed partial-aggregatable
    shuffle over (vocab × word_len) rows, an argmax collapsed to one
    driver scalar (the chosen pair — the loop's only driver action,
    like the CC loop's convergence count), and a row-local fold
    applying the merge. The vocab table is localCheckpointed per round
    (tiny), so round N's plan doesn't re-run rounds 1..N-1.

    Tie-breaks are total (count DESC, then pair lexicographically), so
    training is deterministic; the DuckDB twin re-derives the same
    merges with a relational gaps-and-islands formulation of the
    greedy apply — two independent expressions of the same semantics.
    """
    toks = df.select(F.explode(tokens()).alias("tok"))
    words = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("tok", "freq", _char_symbols(F.col("tok")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    outs, _ = _bpe_train(words, BPE_MERGES, BPE_TOP_K, final_stats=True)
    out = outs[0]
    for t in outs[1:]:
        out = out.unionByName(t)
    return out


def _bpe_pair_stats(words: DataFrame, rnd: int, top_k: int) -> DataFrame:
    """One round's frequency-ranked adjacent-pair table over the
    (tok, freq, syms) vocabulary — the trainer's argmax input."""
    n = F.size("syms")
    pair_rows = words.select(
        "freq",
        F.explode(
            F.when(
                n >= 2, F.sequence(F.lit(1), n - 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("j"),
        "syms",
    ).select(
        F.element_at("syms", F.col("j")).alias("left_sym"),
        F.element_at("syms", F.col("j") + 1).alias("right_sym"),
        "freq",
    )
    counts = pair_rows.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").alias("pair_count")
    )
    w = Window.orderBy(
        F.desc("pair_count"), F.col("left_sym"), F.col("right_sym")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.lit(rnd).alias("round"),
            F.col("rank").cast("int").alias("rank"),
            "left_sym", "right_sym", "pair_count",
        )
        .localCheckpoint(eager=True)
    )


def _bpe_train(
    words: DataFrame, n_merges: int, top_k: int, final_stats: bool
) -> tuple[list[DataFrame], DataFrame]:
    """Shared trainer core over a (tok, freq, syms) vocabulary: per
    round, rank adjacent pairs, pick rank 1 (one driver scalar — the
    loop's only driver action), apply the greedy merge row-locally,
    localCheckpoint. Returns (per-round top tables, final vocabulary).
    ``final_stats`` adds round n_merges+1's pair table computed AFTER
    the last merge (the x40 verification round); the encode path skips
    it — it would be thrown away (r6 review)."""
    outs = []
    for rnd in range(1, n_merges + 1):
        top = _bpe_pair_stats(words, rnd, top_k)
        outs.append(top)
        best = top.filter(F.col("rank") == 1).first()
        if best is None:
            # degenerate vocabulary (no adjacent pairs anywhere — all
            # single-symbol words, or an empty corpus): nothing to
            # merge and every later round's table is empty too, which
            # is exactly what the SQL twin emits — stop gracefully
            return outs, words
        words = words.select(
            "tok", "freq",
            _apply_merge(F.col("syms"), best.left_sym, best.right_sym).alias(
                "syms"
            ),
        ).localCheckpoint(eager=True)
    if final_stats:
        outs.append(_bpe_pair_stats(words, n_merges + 1, top_k))
    return outs, words


def _bpe_round_sql(r: int, top_k: int) -> str:
    """One unrolled training round: pair counts + published top-k from
    words{r-1}, then the greedy merge applied relationally — matched
    positions form gaps-and-islands runs, odd ranks within a run merge
    (non-overlap), the position after a merge is dropped."""
    prev = f"words{r - 1}"
    return f"""
        pos{r} AS (
            SELECT tok, freq, syms, j, syms[j] AS sym FROM (
                SELECT tok, freq, syms,
                       unnest(generate_series(1, len(syms))) AS j
                FROM {prev}
            )
        ),
        pc{r} AS (
            SELECT syms[j] AS left_sym, syms[j + 1] AS right_sym,
                   CAST(sum(freq) AS BIGINT) AS pair_count
            FROM (
                SELECT freq, syms,
                       unnest(generate_series(1, len(syms) - 1)) AS j
                FROM {prev}
            )
            GROUP BY 1, 2
        ),
        top{r} AS (
            SELECT {r} AS round, CAST(rank AS INT) AS rank,
                   left_sym, right_sym, pair_count
            FROM (
                SELECT *, row_number() OVER (
                    ORDER BY pair_count DESC, left_sym, right_sym) AS rank
                FROM pc{r}
            ) WHERE rank <= {top_k}
        ),
        best{r} AS (SELECT left_sym, right_sym FROM top{r} WHERE rank = 1),
        mt{r} AS (
            SELECT p.tok, p.j
            FROM pos{r} p CROSS JOIN best{r} b
            WHERE p.sym = b.left_sym AND p.syms[p.j + 1] = b.right_sym
        ),
        sel{r} AS (
            SELECT tok, j FROM (
                SELECT tok, j, row_number() OVER (
                    PARTITION BY tok, grp ORDER BY j) AS rn
                FROM (
                    SELECT tok, j,
                           j - row_number() OVER (
                               PARTITION BY tok ORDER BY j) AS grp
                    FROM mt{r}
                )
            ) WHERE rn % 2 = 1
        ),
        words{r} AS (
            SELECT p.tok, min(p.freq) AS freq,
                   list(CASE WHEN s.j IS NOT NULL
                             THEN p.sym || p.syms[p.j + 1]
                             ELSE p.sym END ORDER BY p.j) AS syms
            FROM pos{r} p
            LEFT JOIN sel{r} s ON s.tok = p.tok AND s.j = p.j
            LEFT JOIN sel{r} sk ON sk.tok = p.tok AND sk.j = p.j - 1
            WHERE sk.j IS NULL
            GROUP BY p.tok
        )"""


def bpe_merges_sql() -> str:
    rounds = ",".join(_bpe_round_sql(r, BPE_TOP_K) for r in range(1, BPE_MERGES + 1))
    final = BPE_MERGES + 1
    unions = "\n        UNION ALL\n        ".join(
        f"SELECT * FROM top{r}" for r in range(1, BPE_MERGES + 2)
    )
    return f"""
        WITH words0 AS (
            SELECT tok, count(*) AS freq,
                   list_transform(generate_series(1, length(tok)),
                                  i -> substr(tok, i, 1)) AS syms
            FROM (SELECT unnest({tokens_sql()}) AS tok FROM documents)
            GROUP BY tok
        ),
        {rounds},
        pc{final} AS (
            SELECT syms[j] AS left_sym, syms[j + 1] AS right_sym,
                   CAST(sum(freq) AS BIGINT) AS pair_count
            FROM (
                SELECT freq, syms,
                       unnest(generate_series(1, len(syms) - 1)) AS j
                FROM words{BPE_MERGES}
            )
            GROUP BY 1, 2
        ),
        top{final} AS (
            SELECT {final} AS round, CAST(rank AS INT) AS rank,
                   left_sym, right_sym, pair_count
            FROM (
                SELECT *, row_number() OVER (
                    ORDER BY pair_count DESC, left_sym, right_sym) AS rank
                FROM pc{final}
            ) WHERE rank <= {BPE_TOP_K}
        )
        {unions}
    """


def bpe_encode(df: DataFrame) -> DataFrame:
    """BPE tokenizer APPLICATION — the other half of the x40 trainer:
    learn ``BPE_MERGES`` merges from the corpus, then encode every
    document with them and report its BPE token count (the number a
    sequence-packing/token-budget stage actually consumes). Returns
    (doc_id, n_words, n_bpe_tokens, bpe_per_word) per document with at
    least one token.

    Scale shape mirrors the trainer's: the merge folds run over the
    DISTINCT-token vocabulary, never the raw corpus — encoding 100 TB
    costs two corpus-sized token explodes (one feeding the vocabulary
    count, one feeding the per-doc join; the raw scan is column-pruned
    to (id, text) and re-reading it beats materializing an exploded
    corpus-sized cache), a vocab-sized merge rewrite shared with the
    trainer (``_bpe_train`` — trained once, its final vocabulary IS
    the encode table, no verification round), one equi-join of the
    exploded tokens against the vocab on the token key (both sides
    hash-partitioned; the vocab side is orders of magnitude smaller
    but not assumed broadcastable — a web-scale corpus has ~10^8
    distinct tokens), and one partial-aggregatable groupBy per doc.
    """
    toks = df.select(F.col("doc_id"), F.explode(tokens()).alias("tok"))
    words0 = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("tok", "freq", _char_symbols(F.col("tok")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    _, merged = _bpe_train(words0, BPE_MERGES, top_k=1, final_stats=False)
    vocab = merged.select("tok", F.size("syms").alias("__n_syms"))
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_syms").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6).alias(
                "bpe_per_word"
            ),
        )
    )


def bpe_encode_sql() -> str:
    """DuckDB twin of ``bpe_encode``: the trainer's unrolled round CTEs
    produce words{BPE_MERGES} (token → merged symbol list), which the
    per-doc token explode joins and sums. ``sum`` over the BIGINT lengths is cast back to
    BIGINT (DuckDB sum → HUGEINT → float64 against Spark's long — the
    ml4 lesson)."""
    rounds = ",".join(_bpe_round_sql(r, top_k=1) for r in range(1, BPE_MERGES + 1))
    return f"""
        WITH words0 AS (
            SELECT tok, count(*) AS freq,
                   list_transform(generate_series(1, length(tok)),
                                  i -> substr(tok, i, 1)) AS syms
            FROM (SELECT unnest({tokens_sql()}) AS tok FROM documents)
            GROUP BY tok
        ),
        {rounds},
        doc_toks AS (
            SELECT doc_id AS doc_id, unnest({tokens_sql()}) AS tok
            FROM documents
        )
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe_tokens,
               round(sum(len(w.syms)) * 1.0 / count(*), 6) AS bpe_per_word
        FROM doc_toks d JOIN words{BPE_MERGES} w USING (tok)
        GROUP BY d.doc_id
    """


TEMP_ALPHA = 0.7  # temperature for source mixing (p_s ∝ n_s^alpha)
MIX_SALT = "#mix"


def temperature_mix(df: DataFrame) -> DataFrame:
    """Temperature-based source rebalancing — the multilingual-corpus
    mixing rule (kept share of source s ∝ n_s^α): per-source Bernoulli
    keep-fraction ``f_s = (n_min/n_s)^(1−α)``, so the smallest source
    is kept whole and dominant sources are downsampled toward the
    tempered share. Unlike x20's CONFIGURED fractions, the fractions
    here are DERIVED from the corpus's own counts.

    Deterministic and engine-portable end to end: the per-row draw is
    the salted md5 prefix (x20's machinery), the per-source threshold
    is that fraction quantized to an 8-hex-digit string
    (``printf('%08x', floor(round(f,6)·2^32))``, capped at ffffffff so
    f=1 keeps every row under the ``<=`` compare), and the comparison
    is an exact string compare — no float reaches the row-level
    decision, so re-runs, repartitionings, and the SQL oracle keep the
    SAME docs.

    Scale shape: one tiny per-source count aggregate, broadcast back
    onto the corpus; the keep decision itself is row-local. Returns
    kept rows as (id, source, keep_frac, sample_key)."""
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("src_n"))
    n_min = counts.agg(F.min("src_n").alias("n_min"))
    fr = counts.crossJoin(F.broadcast(n_min)).select(
        "source",
        F.round(
            F.pow(F.col("n_min").cast("double") / F.col("src_n"), 1.0 - TEMP_ALPHA), 6
        ).alias("keep_frac"),
    )
    thr = F.format_string(
        "%08x",
        F.least(
            F.floor(F.col("keep_frac") * F.lit(4294967296.0)).cast("long"),
            F.lit(4294967295),
        ),
    )
    key = F.substring(salted_id_key("doc_id", MIX_SALT), 1, 8)
    return (
        df.join(F.broadcast(fr.withColumn("__thr", thr)), "source")
        .withColumn("sample_key", key)
        .filter(F.col("sample_key") <= F.col("__thr"))
        .select("doc_id", "source", "keep_frac", "sample_key")
    )


def temperature_mix_sql(extra_ctes: str) -> str:
    """``extra_ctes``: rendered verbatim before this query's own CTEs;
    it defines the ``skew`` corpus (``"skew AS (...), "``) — the
    statement owns the single WITH."""
    key = f"substr({salted_id_key_sql('doc_id', MIX_SALT)}, 1, 8)"
    return f"""
        WITH {extra_ctes}counts AS (
            SELECT source, count(*) AS src_n FROM skew GROUP BY source
        ),
        mn AS (SELECT min(src_n) AS n_min FROM counts),
        fr AS (
            SELECT source,
                   round(pow(CAST(n_min AS DOUBLE) / src_n, {1.0 - TEMP_ALPHA}), 6)
                       AS keep_frac
            FROM counts CROSS JOIN mn
        ),
        thr AS (
            SELECT source, keep_frac,
                   printf('%08x', least(
                       CAST(floor(keep_frac * 4294967296.0) AS BIGINT),
                       4294967295)) AS t
            FROM fr
        )
        SELECT d.doc_id, d.source, f.keep_frac,
               {key} AS sample_key
        FROM skew d JOIN thr f USING (source)
        WHERE {key} <= f.t
    """


QUOTA_CAP = 15  # default per-source document quota
QUOTA_SALT = "#qcap"


def source_quota_cap(df: DataFrame) -> DataFrame:
    """Per-source document quota — the Common-Crawl domain-cap pattern
    (bound any one domain's share of the training mix). Keeps at most
    ``QUOTA_CAP`` docs per source, selected by deterministic hash rank:
    not arrival order (order-dependent caps are irreproducible across
    partitionings) and not random (re-runs must keep the SAME docs).

    Scale shape: one shuffle on ``source`` for the per-source
    ``row_number`` window. A mega-source bounds its window task at that
    source's row count; at web scale, pre-aggregate per-source counts
    and only window the over-cap sources (the under-cap majority
    passes through filter-free), or band the rank key — the standard
    skew escape hatches, not needed at fixture scale. The md5 rank key
    is portable, so the oracle orders bit-identically.
    """
    key = salted_id_key("doc_id", QUOTA_SALT)
    w = Window.partitionBy("source").orderBy(key)
    return (
        df.withColumn("rank_key", key)
        .withColumn("qrank", F.row_number().over(w).cast("int"))
        .filter(F.col("qrank") <= QUOTA_CAP)
        .select("doc_id", "source", "rank_key", "qrank")
    )


def source_quota_cap_sql() -> str:
    key = salted_id_key_sql("doc_id", QUOTA_SALT)
    return f"""
        SELECT doc_id, source, rank_key, qrank FROM (
            SELECT doc_id, source, {key} AS rank_key,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY {key}
                   ) AS INT) AS qrank
            FROM documents
        ) WHERE qrank <= {QUOTA_CAP}
    """


def all_grams(toks: Column, n: int) -> Column:
    """NON-distinct token n-grams as an array column — the shared gram
    builder (repetition analysis keeps multiplicity; dedup's
    ``_shingles`` wraps it in ``array_distinct``). ``element_at`` is
    1-based, mirroring SQL list indexing; ``sequence(1, k)`` with
    k < 1 counts DOWN in Spark, so short docs are guarded to an empty
    array (matching SQL generate_series semantics)."""
    cnt = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))


REP_MAX_TOKENS = 512  # quadratic-cost cap per document


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition quality signals:
    ``top_bigram_frac`` (fraction of all bigram occurrences taken by
    the single most frequent bigram) and ``dup_trigram_frac``
    (fraction of trigram occurrences that are repeats of an earlier
    trigram). High values mark boilerplate/spam for corpus filtering.

    Scale shape: entirely row-local — tokenize once, build gram arrays,
    count with higher-order ``filter`` folds inside whole-stage
    codegen. One corpus scan, zero shuffles. The per-row cost is
    O(distinct_bigrams x total_bigrams) — quadratic in DOCUMENT length,
    so a pathological multi-megabyte doc would stall its executor core;
    the analysis window is therefore capped at the first
    ``REP_MAX_TOKENS`` tokens (repetition signals are prefix-robust),
    bounding the worst row at a constant. Short docs (< 3 tokens) yield
    NULL fractions via ``try_divide``.
    """
    toks = F.slice(tokens(), 1, REP_MAX_TOKENS)
    with_grams = df.select(
        F.col("doc_id"),
        all_grams(toks, 2).alias("__big"),
        all_grams(toks, 3).alias("__tri"),
    )
    big, tri = F.col("__big"), F.col("__tri")
    top_count = F.array_max(
        F.transform(
            F.array_distinct(big),
            lambda g: F.size(F.filter(big, lambda x: x == g)),
        )
    )
    return with_grams.select(
        F.col("doc_id"),
        F.try_divide(top_count, F.size(big)).alias("top_bigram_frac"),
        F.try_divide(
            F.size(tri) - F.size(F.array_distinct(tri)), F.size(tri)
        ).alias("dup_trigram_frac"),
    )


def _all_grams_sql(n: int) -> str:
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 0)),"
        f" i -> {gram})"
    )


def repetition_signals_sql() -> str:
    return f"""
        SELECT doc_id,
            CASE WHEN len(big) > 0 THEN
                list_max(list_transform(list_distinct(big),
                    g -> len(list_filter(big, x -> x = g)))) / len(big)
            END AS top_bigram_frac,
            CASE WHEN len(tri) > 0 THEN
                (len(tri) - len(list_distinct(tri))) / len(tri)
            END AS dup_trigram_frac
        FROM (
            SELECT doc_id, {_all_grams_sql(2)} AS big, {_all_grams_sql(3)} AS tri
            FROM (SELECT doc_id,
                         list_slice({tokens_sql()}, 1, {REP_MAX_TOKENS})
                             AS toks
                  FROM documents)
        )
    """


PACK_TARGET_TOKENS = 2048  # token budget per packed training sequence
PACK_SHARDS = 64  # independent packing streams (scale = parallelism)


def pack_sequences(df: DataFrame, partition_extra: tuple[str, ...] = ()) -> DataFrame:
    """Greedy sequence packing for pre-training batches: concatenate
    documents in id order until the token budget is crossed, emitting
    (id, shard, n_tokens, pack_id) where ``pack_id`` is the bin whose
    token range contains the document's START offset (boundary docs
    belong to the pack they begin in).

    Scale shape: a SINGLE global packing order would serialize 100 TB
    through one window partition — instead docs are sharded by
    ``id % PACK_SHARDS`` and packed independently per shard, so the running
    token sum is a per-shard window (PACK_SHARDS-way parallel, one shuffle
    on the shard key). Raising ``PACK_SHARDS`` to O(cluster cores) keeps
    every executor busy; determinism holds because shard assignment
    and intra-shard order are pure functions of the id.

    ``partition_extra`` names additional packing-stream keys (e.g.
    train/val/test split, language) — a sequence never mixes documents
    across those boundaries, and the columns pass through to the
    output.
    """
    t = df.select(
        F.col("doc_id"),
        *partition_extra,
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        token_count().alias("n_tokens"),
    )
    w = Window.partitionBy(*partition_extra, "shard").orderBy("doc_id")
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.withColumn(
        "pack_id", F.floor(start / F.lit(PACK_TARGET_TOKENS)).cast("int")
    )


def pack_sequences_sql() -> str:
    return f"""
        SELECT doc_id, shard, n_tokens,
            CAST(floor((cum - n_tokens) / {PACK_TARGET_TOKENS}) AS INT) AS pack_id
        FROM (
            SELECT doc_id, shard, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
            FROM (
                SELECT doc_id,
                    CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
                    CAST(len({tokens_sql()}) AS INT) AS n_tokens
                FROM documents
            )
        )
    """


CHUNK_TOKENS = 128  # tokens per chunk
CHUNK_STRIDE = 96  # start-to-start distance → 32-token overlap


def chunk_documents(
    df: DataFrame,
    size: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split documents into overlapping fixed-token-window chunks —
    the standard preprocessing step in front of an embedding model
    (every doc yields ≥ 1 chunk; the last chunk may be short). Returns
    (id, chunk_idx, chunk_tokens, chunk_md5) where the digest stands
    in for the chunk text through the comparison harness.

    Scale shape: tokenize once, compute the chunk-start list with pure
    integer math, and ``posexplode`` — row-local, one corpus scan, no
    shuffle; output rows ≈ corpus_tokens / stride regardless of
    document skew.
    """
    n = F.size(tokens())
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.floor((n - size + stride - 1) / F.lit(stride)) + 1
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: (i * stride + 1).cast("int")
    )
    t = df.select(
        F.col("doc_id"),
        tokens().alias("__toks"),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    chunk = F.slice(F.col("__toks"), F.col("__start"), size)
    return t.select(
        F.col("doc_id"),
        F.col("chunk_idx"),
        F.size(chunk).alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_md5"),
    )


def chunk_documents_sql(
    src: str = "documents",
    size: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> str:
    return f"""
        SELECT doc_id,
            CAST(i - 1 AS INT) AS chunk_idx,
            CAST(len(chunk) AS INT) AS chunk_tokens,
            md5(array_to_string(chunk, ' ')) AS chunk_md5
        FROM (
            SELECT doc_id, i,
                list_slice(toks, (i - 1) * {stride} + 1,
                           (i - 1) * {stride} + {size}) AS chunk
            FROM (
                SELECT doc_id, toks, unnest(generate_series(1,
                    CASE WHEN len(toks) <= {size} THEN 1
                         ELSE (len(toks) - {size} + {stride} - 1) // {stride} + 1
                    END)) AS i
                FROM (SELECT doc_id, {tokens_sql()} AS toks FROM {src})
            )
        )
    """


VOCAB_TOP_K = 25  # corpus vocabulary rows published
TFIDF_TOP_K = 3  # top terms per document


def vocab_topk(df: DataFrame) -> DataFrame:
    """Top-k corpus vocabulary: per-token total term frequency (``tf``)
    and document frequency (``df``), ties broken by token text.

    Scale shape: one explode → one hash aggregate. ``tf`` and ``df``
    share the single shuffle on the token key (count + count-distinct
    in the same grouped agg; Spark plans the distinct as an expand,
    still partially aggregated map-side). The final top-k is a
    ``TakeOrderedAndProject`` — each partition ships only its k-row
    head to the driver merge, never a global sort of the vocabulary.
    """
    tok = df.select(F.col("doc_id"), F.explode(tokens()).alias("token"))
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return agg.orderBy(F.desc("tf"), "token").limit(VOCAB_TOP_K)


def tfidf_top_terms(df: DataFrame) -> DataFrame:
    """Per-document TF-IDF top-k terms: the standard smooth variant
    ``tf · (ln((N+1)/(df+1)) + 1)``, ranked per doc with token-text
    tiebreak. Returns (id, token, tf, tfidf, rnk) for rnk ≤ k.

    Scale shape: one explode → (doc, token) hash agg, map-side
    combined; document frequency is a second agg over that table's
    token key, so the corpus text is tokenized exactly once. The df
    table is vocabulary-sized (≪ corpus) and joins back on the token
    key; the doc count N joins as a broadcast 1-row aggregate (a
    scalar subquery, not a driver-side ``count()`` baked into the
    plan). The final top-k is a bounded per-doc window — rank state
    never exceeds one doc's vocabulary. The score is rounded to 6
    decimals BEFORE ranking so engine/oracle rank identically even if
    ``ln`` differs in the last ULP.
    """
    tok = df.select(F.col("doc_id"), F.explode(tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tf", "tfidf", "rnk")
    )


def tfidf_topk_sql() -> str:
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest({tokens_sql()}) AS token FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
        ),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        total AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, token, tf,
                   round(tf * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS tfidf
            FROM tf JOIN dfreq USING (token) CROSS JOIN total
        ),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, token
            ) AS INT) AS rnk
            FROM scored
        )
        SELECT doc_id, token, tf, tfidf, rnk FROM ranked WHERE rnk <= {TFIDF_TOP_K}
    """


def vocab_topk_sql() -> str:
    return f"""
        SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (
            SELECT doc_id, unnest({tokens_sql()}) AS token
            FROM documents
        )
        GROUP BY token
        ORDER BY tf DESC, token
        LIMIT {VOCAB_TOP_K}
    """


BOILERPLATE_MIN_DOCS = 10  # a line shared by >= this many docs is boilerplate


def remove_boilerplate(df: DataFrame) -> DataFrame:
    """Cross-document repeated-line removal — the CCNet/C4 boilerplate
    pass: a line occurring in at least ``BOILERPLATE_MIN_DOCS`` DISTINCT documents
    (nav bars, cookie banners, footers) is stripped from every
    document; per-doc text is reassembled in original line order.

    Scale shape: lines are keyed by their md5 (the oracle-portable
    digest — never shuffle the line text as a grouping key), the
    (digest, doc) pairs are de-duplicated per doc BEFORE the count so
    a doc repeating its own footer counts once, and the surviving
    boilerplate digest set — tiny by construction (it takes >=
    ``BOILERPLATE_MIN_DOCS`` copies to qualify, so there are at most
    corpus_lines / BOILERPLATE_MIN_DOCS of them) — is BROADCAST into a left-anti
    join; the corpus never shuffles on anything but (digest) for the
    count and (doc) for the ordered reassembly, both
    partial-aggregatable.

    Output: (id, text, n_lines, n_removed) — ``text`` is the cleaned
    document, empty when every line was boilerplate.
    """
    lines = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"),
    ).withColumn("h", F.md5(F.col("line").cast("binary")))
    counts = (
        lines.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    boiler = counts.filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS).select("h")
    kept = lines.join(F.broadcast(boiler), "h", "left_anti")
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    clean = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(clean, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("text", F.lit("")).alias("text"),
            F.col("n_lines").cast("int").alias("n_lines"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def remove_boilerplate_sql(extra_ctes: str) -> str:
    """DuckDB twin of ``remove_boilerplate`` (same digest keys, same
    ordered reassembly) over the ``boiler_docs`` corpus, which
    ``extra_ctes`` defines inside the single WITH clause."""
    return f"""
        WITH {extra_ctes},
        lines AS MATERIALIZED (
            SELECT doc_id, line_no, line, md5(line) AS h
            FROM (
                -- equal-length unnests in one SELECT zip positionally
                SELECT doc_id,
                       unnest(generate_series(1, len(parts))) AS line_no,
                       unnest(parts) AS line
                FROM (
                    SELECT doc_id, string_split(text, chr(10)) AS parts
                    FROM boiler_docs
                )
            )
        ),
        counts AS (
            SELECT h, count(*) AS n_docs
            FROM (SELECT DISTINCT h, doc_id FROM lines)
            GROUP BY h
        ),
        boiler AS (SELECT h FROM counts WHERE n_docs >= {BOILERPLATE_MIN_DOCS}),
        kept AS (
            SELECT * FROM lines WHERE h NOT IN (SELECT h FROM boiler)
        ),
        totals AS (
            SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
        ),
        clean AS (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY line_no) AS text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               COALESCE(c.text, '') AS text,
               CAST(t.n_lines AS INT) AS n_lines,
               CAST(t.n_lines - COALESCE(c.n_kept, 0) AS INT) AS n_removed
        FROM totals t LEFT JOIN clean c USING (doc_id)
    """


LM_LAMBDA = 0.7  # bigram weight in the interpolated LM score


def bigram_logprob(df: DataFrame) -> DataFrame:
    """Interpolated bigram LM quality score — the next rung above x33's
    unigram stand-in for CCNet's perplexity filter: per bigram position
    ``p = λ·cnt(w1 w2)/cnt(w1) + (1−λ)·cnt(w2)/total`` (corpus-trained
    MLE bigram backed off to the unigram), emitted as the per-doc mean
    ``ln p`` and its ``ppl_proxy``. Word-salad that passes a unigram
    filter (common words in impossible orders) scores low here.

    Scale shape: two count aggregations (token, bigram — both
    partial-aggregatable), then the exploded bigram table makes three
    keyed equi-joins (bigram count, context count, word count) — plain
    shuffle joins since a 100 TB corpus's vocab/bigram tables are
    themselves large — and one per-doc aggregation. Like x33, this
    cache-free plan re-tokenizes per reference (the unigram count table
    is scanned twice for ctx/word); a production pipeline materializes
    the (doc, token) and count tables once — they feed x18/x19/x33 too
    — and every pass reads the columnar intermediate. Docs with < 2
    tokens have no bigram positions and drop out (both engines).
    Rounding per the x19/x33 float precedent.
    """
    toks_arr = df.select(F.col("doc_id"), tokens().alias("toks"))
    # token-only projection: the unigram counts never need doc_id
    uni = toks_arr.select(F.explode("toks").alias("token"))
    ucnt = uni.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = ucnt.agg(F.sum("cnt").alias("total"))
    bigs = toks_arr.select(
        F.col("doc_id"), F.explode(all_grams(F.col("toks"), 2)).alias("bigram")
    )
    bcnt = bigs.groupBy("bigram").agg(F.count(F.lit(1)).alias("bcnt"))
    parts = F.split("bigram", " ")
    per = (
        bigs.withColumn("ctx", parts[0])
        .withColumn("w", parts[1])
        .join(bcnt, "bigram")
        .join(ucnt.select(F.col("token").alias("ctx"), F.col("cnt").alias("ccnt")), "ctx")
        .join(ucnt.select(F.col("token").alias("w"), F.col("cnt").alias("wcnt")), "w")
        .crossJoin(F.broadcast(total))
    )
    p = F.lit(LM_LAMBDA) * (F.col("bcnt") / F.col("ccnt")) + F.lit(1.0 - LM_LAMBDA) * (
        F.col("wcnt") / F.col("total")
    )
    out = per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_big"),
        F.avg(F.log(p)).alias("__mean"),
    )
    return out.select(
        F.col("doc_id"),
        F.col("n_big").cast("int").alias("n_bigrams"),
        F.round("__mean", 6).alias("mean_logprob"),
        F.round(F.exp(-F.col("__mean")), 3).alias("ppl_proxy"),
    )


def bigram_logprob_sql() -> str:
    return f"""
        WITH toks_arr AS MATERIALIZED (
            SELECT doc_id, {tokens_sql()} AS toks FROM documents
        ),
        ucnt AS (
            SELECT token, count(*) AS cnt
            FROM (SELECT unnest(toks) AS token FROM toks_arr)
            GROUP BY token
        ),
        total AS (SELECT sum(cnt) AS total FROM ucnt),
        bigs AS MATERIALIZED (
            SELECT doc_id, unnest({_all_grams_sql(2)}) AS bigram FROM toks_arr
        ),
        bcnt AS (SELECT bigram, count(*) AS bcnt FROM bigs GROUP BY bigram),
        per AS (
            SELECT b.doc_id,
                   {LM_LAMBDA} * (bc.bcnt / uc.cnt)
                       + {1.0 - LM_LAMBDA} * (uw.cnt / total) AS p
            FROM bigs b
            JOIN bcnt bc USING (bigram)
            JOIN ucnt uc ON uc.token = string_split(b.bigram, ' ')[1]
            JOIN ucnt uw ON uw.token = string_split(b.bigram, ' ')[2]
            CROSS JOIN total
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_big, avg(ln(p)) AS m
            FROM per GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_big AS INT) AS n_bigrams,
               round(m, 6) AS mean_logprob,
               round(exp(-m), 3) AS ppl_proxy
        FROM agg
    """


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Corpus-unigram log-probability quality score — the cheap
    in-engine stand-in for CCNet's LM-perplexity filter: documents full
    of corpus-rare tokens (mojibake, spam, wrong language) score low;
    typical text scores near the corpus ceiling. Emitted as
    ``mean_logprob`` = mean over the doc's tokens of ln p(token), with
    p from the corpus's own unigram counts, plus the equivalent
    ``ppl_proxy`` = exp(-mean_logprob) (lower = more typical).

    Scale shape: one token-count aggregation (partial-aggregatable
    shuffle on token), then the exploded tokens join the count table on
    token — a plain shuffle join, NOT a broadcast, because a 100 TB
    corpus's vocabulary is itself large — and a per-doc aggregation.
    The token table feeds both the count and the join side, so this
    cache-free plan tokenizes the corpus twice; a production pipeline
    materializes the (doc, token) table once (it feeds x18/x19 too)
    and both passes read the columnar intermediate instead. Floats are
    rounded to 6 decimals in both engines (the x19 TF-IDF precedent)
    so summation-order ULP noise can't break hash parity.
    """
    toks = df.select(F.col("doc_id"), F.explode(tokens()).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    per_doc = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.avg(F.log(F.col("cnt") / F.col("total"))).alias("__mean"),
        )
    )
    return per_doc.select(
        F.col("doc_id"),
        F.col("n_tok").cast("int").alias("n_tokens"),
        F.round("__mean", 6).alias("mean_logprob"),
        F.round(F.exp(-F.col("__mean")), 3).alias("ppl_proxy"),
    )


def unigram_logprob_sql() -> str:
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest({tokens_sql()}) AS token
            FROM documents
        ),
        counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        total AS (SELECT sum(cnt) AS total FROM counts),
        per_doc AS (
            SELECT doc_id, count(*) AS n_tok,
                   avg(ln(cnt / total)) AS m
            FROM toks JOIN counts USING (token) CROSS JOIN total
            GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_tok AS INT) AS n_tokens,
               round(m, 6) AS mean_logprob,
               round(exp(-m), 3) AS ppl_proxy
        FROM per_doc
    """


# ---------------------------------------------------------------------------
# x46 — deterministic global shuffle → training shards

SHUFFLE_SALT = "shard"


def shuffle_shards(df: DataFrame) -> DataFrame:
    """The global-shuffle-and-shard step a training-data export ends
    with: every document gets a SALTED content-free hash key, the
    first TWO hex digits are its shard (256 shards), and ``row_number`` over
    the hash key within the shard is its serving order — a
    deterministic pseudo-random permutation of the corpus.

    Scale shape: this is how you "globally shuffle" 100 TB WITHOUT a
    global sort — the hash assignment is a row-local projection, the
    only exchange is the per-shard hash partition, and each shard
    orders independently (256-way parallel sort of corpus/256 each —
    widen the digit count if per-shard volume still exceeds a sort
    task's comfort at the target scale; the scheme is unchanged).
    Re-runs are stable (no RNG state), and growing the corpus keeps
    the RELATIVE order of existing docs within each shard (keys are
    content-free hashes) — absolute ``pos`` values DO shift when new
    keys interleave, so incremental consumers must resume by
    (shard, shuffle_key) watermark, not by pos. The salt keeps the
    permutation independent of the
    ``hash_split`` buckets (the UNSALTED md5(id) family — see
    ``hash_split``'s ownership note).
    """
    key = F.md5(
        F.concat(
            F.lit(SHUFFLE_SALT + ":"), F.col("doc_id").cast("string")
        ).cast("binary")
    )
    out = df.withColumn("shuffle_key", key).withColumn(
        "shard", F.substring("shuffle_key", 1, 2)
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return out.withColumn("pos", F.row_number().over(w))


def shuffle_shards_sql() -> str:
    key = f"md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR))"
    return f"""
        SELECT doc_id, shuffle_key, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY shuffle_key, doc_id
               ) AS INT) AS pos
        FROM (
            SELECT doc_id AS doc_id, {key} AS shuffle_key,
                   substr({key}, 1, 2) AS shard
            FROM documents
        )
    """
