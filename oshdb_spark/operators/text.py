"""Text-analysis operators for training-data pipelines.

All JVM-side Catalyst expressions (length/replace/split/md5) — these run in
whole-stage codegen with zero Python on the hot path, which is what makes
them viable over 10^12 documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oshdb_spark.session import local_frame


def token_count_col(text_col: str = "text"):
    """Whitespace token count via character arithmetic (exact for
    single-space-separated text; no regex, no UDF)."""
    t = F.col(text_col)
    return (F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1).cast("long")


def token_stats(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Per group: doc count, total tokens, total chars, distinct 64-char
    prefix hashes (a cheap whole-doc identity; `winnow_fingerprints` is
    the real rolling-hash fingerprint operator)."""
    fingerprint = F.substring(
        F.md5(F.substring(F.col("text"), 1, 64).cast("binary")), 1, 8
    )
    return docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col()).cast("long").alias("sum_tokens"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.countDistinct(fingerprint).alias("n_fingerprints"),
    )


def stopword_score(
    docs: DataFrame, stopword: str = "the", group_col: str = "lang"
) -> DataFrame:
    """Per group: total stopword occurrences (replace-length trick) and
    total chars — the n-gram language-ID heuristic's core counters."""
    t = F.col("text")
    hits = (F.length(t) - F.length(F.expr(f"replace(text, '{stopword}', '')"))) / len(
        stopword
    )
    return docs.groupBy(group_col).agg(
        F.sum(hits).cast("long").alias("stopword_hits"),
        F.sum(F.length(t)).cast("long").alias("total_chars"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: token count, mean token length,
    type-token ratio (distinct/total tokens). JVM-side only."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        (F.length(F.col(text_col)).cast("double") / n).alias("mean_tok_len"),
        (F.size(F.array_distinct(toks)).cast("double") / n).alias("type_token_ratio"),
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-gram, keep the minimum hash of each
    w-window, dedupe — the rolling-hash fingerprint set that powers
    plagiarism/near-dup detection at corpus scale.

    All JVM-side array expressions, zero shuffle and zero Python: k-gram
    hashes via transform(sequence)+md5, window minima via SPARSE-TABLE
    DOUBLING (log2(w) zip_with passes over shifted copies) instead of a
    per-window array_min(slice(...)) lambda — the latter re-evaluates the
    hash array per window position (HigherOrderFunction lambdas don't
    cache their non-lambda subtrees), turning O(n·w) into O(n²) on long
    docs.  The doubling form touches the hash array a constant ≤
    2·log2(w)+2 times however Catalyst inlines the projections.

    Hash = first 16 hex chars of md5 over the gram's UTF-8 bytes —
    chosen because DuckDB computes the identical value (`substr(md5(..)`),
    making the operator oracle-checkable; window minima are lexicographic.
    Docs shorter than k + w - 1 chars have no complete window and are
    dropped, matching the oracle.

    Returns (doc_id, fingerprints array<string>).
    """
    t = F.col(text_col)
    n = F.length(t) - k + 1  # k-gram count
    hs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.substring(
            F.md5(F.encode(t.substr(i, F.lit(k)), "UTF-8")), 1, 16
        ),
    )
    out = docs.filter(F.length(t) >= k + w - 1).select(
        "doc_id", hs.alias("__hs"), n.alias("__n")
    )
    # min over [i, i+w): doubling passes combine each level with itself
    # shifted by the level's span; a final pass tops up non-power-of-2 w
    level = F.col("__hs")
    span = 1
    while span * 2 <= w:
        shifted = F.slice(
            level, span + 1, F.greatest(F.size(level) - span, F.lit(0))
        )
        level = F.zip_with(level, shifted, lambda a, b: F.least(a, b))
        span *= 2
    if span < w:
        shift = w - span
        shifted = F.slice(
            level, shift + 1, F.greatest(F.size(level) - shift, F.lit(0))
        )
        level = F.zip_with(level, shifted, lambda a, b: F.least(a, b))
    mins = F.slice(level, 1, F.col("__n") - w + 1)
    return out.select(
        "doc_id", F.array_distinct(mins).alias("fingerprints")
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts.

    A tiny n-gram/stopword profile per language — the classic fasttext-free
    fallback; extend the profile table to add languages.
    """
    profiles = {
        "en": ["the", "and", "of"],
        "de": ["der", "und", "nicht"],
        "fr": ["le", "et", "les"],
    }
    t = F.col(text_col)
    scores = []
    for lang, words in profiles.items():
        s = None
        for w in words:
            hits = (F.length(t) - F.length(F.expr(f"replace({text_col}, '{w}', '')"))) / len(w)
            s = hits if s is None else s + hits
        scores.append(F.struct(s.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return docs.select("doc_id", best["lang"].alias("lang_pred"), best["score"].alias("lang_score"))


def deterministic_sample(
    docs: DataFrame,
    threshold_hex: str = "28f5",
    salt: str = "s0",
    id_col: str = "doc_id",
    rate_col: str | None = None,
) -> DataFrame:
    """Deterministic, engine-portable document sampling.

    Keep a doc iff the first 4 hex chars of md5(salt|id) sort below
    ``threshold_hex`` — a pure string compare, so the SAME rows are
    selected by Spark, DuckDB, or any engine with md5 (the portability
    trick the minhash oracle uses).  Sampling rate ~= int(threshold_hex,
    16) / 65536; resampling with a different salt draws an independent
    sample; the sample is stable under repartitioning, retries, and
    incremental reprocessing — the property a 10^12-doc pipeline needs
    (rand()-based sampling is none of these).

    ``rate_col``: optional per-row threshold column (4-char hex string)
    for STRATIFIED sampling — e.g. join a broadcast per-source rate map
    first, then sample each stratum at its own rate in the same pass.
    Everything is JVM-side Catalyst (md5 + substring + compare); no
    shuffle, fully pushdown-friendly.
    """
    h = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string"))),
        1, 4,
    )
    limit = F.col(rate_col) if rate_col else F.lit(threshold_hex.lower())
    return docs.filter(h < limit)


def pack_shards(
    docs: DataFrame,
    budget_tokens: int,
    order_col: str = "doc_id",
    text_col: str = "text",
    n_ranges: int = 32,
) -> DataFrame:
    """Assign each doc to a training shard so consecutive docs (in
    ``order_col`` order) fill shards of ~``budget_tokens`` tokens:
    shard = floor(exclusive-prefix-sum(tokens) / budget) — the "pack
    into ~N-token shards" step of a training-data pipeline.

    A naive global window (Window.orderBy with no partition) serializes
    the whole table through ONE task; this is instead the classic
    DISTRIBUTED PREFIX SUM: pick a tiny set of RANGE BOUNDARIES on the
    order key (deterministic hash sample, collected — <= ~100k keys at
    any table size), derive every row's range id from the boundary
    literals (a pure Catalyst expression, identical on every pass — no
    checkpoint/persist needed to pin partition ids, the r4 weak spot),
    compute per-range token totals (<= n_ranges rows, collected), turn
    them into per-range starting offsets on the driver, and run the
    cumulative sum as a WITHIN-range window + offset.  Exactly the
    global-cumsum semantics, no single-task sort, no full-table
    materialization; the only shuffle is the window's hash exchange on
    the range id.

    Null ``text_col`` counts as 0 tokens (a null-text doc occupies no
    budget but still receives the shard its position implies).

    Returns the input rows plus a ``shard`` column (long)."""
    from pyspark.sql import Window

    toks = docs.withColumn(
        "__tok", F.coalesce(token_count_col(text_col), F.lit(0))
    )
    bounds = _range_boundaries(toks, order_col, n_ranges)
    if bounds is None:  # empty input
        return docs.withColumn("shard", F.lit(None).cast("long"))
    # range id = number of boundaries <= key: deterministic in both
    # passes because it depends only on the row and the literals
    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(F.col(order_col) >= F.lit(b), 1).otherwise(0)
    part = toks.withColumn("__pid", pid.cast("int"))
    totals = {
        int(r["__pid"]): int(r["t"])
        for r in part.groupBy("__pid").agg(F.sum("__tok").alias("t")).collect()
    }
    offsets: dict[int, int] = {}
    run = 0
    for p in range(len(bounds) + 1):  # pids are ordinal by construction
        offsets[p] = run
        run += totals.get(p, 0)
    omap = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("__pid").orderBy(order_col)
    cum_excl = F.sum("__tok").over(w) + omap[F.col("__pid")] - F.col("__tok")
    return (
        part.withColumn(
            "shard",
            F.floor(cum_excl / F.lit(int(budget_tokens))).cast("long"),
        )
        .drop("__tok", "__pid")
    )


def _word_ngrams(toks, n: int, sep: str):
    """Array of word n-grams from a token-array column — a Catalyst
    transform over sequence (whole-stage codegen, no UDF).  Callers must
    pre-filter to size(toks) >= n."""
    m = F.size(toks) - (n - 1)
    return F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat_ws(
            sep, *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )


def ngram_decontaminate(
    docs: DataFrame,
    probe_grams: list[str],
    n: int = 8,
    text_col: str = "text",
    sep: str = " ",
) -> DataFrame:
    """Benchmark decontamination: flag documents that share any word
    n-gram with a probe set (the standard eval-set decontamination step —
    e.g. GPT-3 appendix C / Gopher §A2's 13-gram overlap rule — run
    before training to drop documents that leak test data).

    Returns (doc_id, n_probe_hits = distinct probe grams found in the
    doc, first_hit = lexicographic min matching gram).  Documents with no
    hit are absent — semi-join semantics; anti-join the result against
    the corpus to get the clean set.

    Scale shape: the probe set is benchmark-sized (thousands), so it
    broadcasts; doc n-grams are built JVM-side and exploded once, the
    broadcast hash join filters them map-side BEFORE the only shuffle
    (groupBy doc_id over surviving hits — normally a tiny fraction of the
    corpus).  The corpus is never shuffled whole.
    """
    spark = docs.sparkSession
    probes = local_frame(
        spark, [(g,) for g in sorted(set(probe_grams))], "gram string"
    )
    toks = F.split(F.col(text_col), sep)
    e = docs.filter(F.size(toks) >= n).select(
        "doc_id", F.explode(_word_ngrams(toks, n, sep)).alias("gram")
    )
    hits = e.join(F.broadcast(probes), "gram")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_probe_hits"),
        F.min("gram").alias("first_hit"),
    )


def repetition_signals(
    docs: DataFrame, n: int = 2, text_col: str = "text", sep: str = " "
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public): per doc, the duplicate word-n-gram fraction and the fraction
    of characters covered by the most frequent n-gram — the standard
    repeated-content filters for LLM training corpora.  With ``sep='\\n',
    n=1`` the same operator computes the duplicate-LINE fraction.

    Output (docs with >= n tokens only):
      doc_id, n_grams, dup_gram_frac = 1 - distinct/total grams,
      top_gram_cnt, top_gram_char_frac = cnt*len(gram)/len(text).
    The "top" gram is the lexicographic max of (count, gram_length) so
    ties are deterministic across engines.

    Scale shape: per-doc gram arrays are built JVM-side (transform over
    sequence — whole-stage codegen), then ONE explode feeds two partial-
    aggregated groupBys keyed by (doc_id, gram) then doc_id.  ``n_chars``
    rides the grouping key (it is functionally dependent on doc_id), so
    no join back to the docs table and no extra shuffle.  Skew is bounded
    by the longest single document, not by corpus-wide gram frequency.
    """
    toks = F.split(F.col(text_col), sep)
    grams = _word_ngrams(toks, n, sep)
    e = docs.filter(F.size(toks) >= n).select(
        "doc_id",
        F.length(F.col(text_col)).alias("__nc"),
        F.explode(grams).alias("gram"),
    )
    cnts = e.groupBy("doc_id", "__nc", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = F.max(F.struct(F.col("cnt"), F.length("gram").alias("glen")))
    out = cnts.groupBy("doc_id", "__nc").agg(
        F.sum("cnt").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        best.alias("__best"),
    )
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        (
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")
        ).alias("dup_gram_frac"),
        F.col("__best.cnt").cast("long").alias("top_gram_cnt"),
        (
            (F.col("__best.cnt") * F.col("__best.glen")).cast("double")
            / F.col("__nc")
        ).alias("top_gram_char_frac"),
    )


def _range_boundaries(
    df: DataFrame,
    order_col: str,
    n_ranges: int,
    target_sample: int = 100_000,
) -> list | None:
    """<= n_ranges-1 boundary values of ``order_col`` from a
    DETERMINISTIC hash sample (xxhash64 modulus — stable under
    repartitioning and retries, unlike rand()): count (column-pruned),
    sample ~min(count, target_sample) keys, sort driver-side, take
    evenly spaced cut points.  Boundary QUALITY only affects range
    balance, never the packing result — the prefix sum is exact for any
    boundary set.  Returns None for an empty input."""
    n = df.count()
    if n == 0:
        return None
    m = max(1, n // min(n, target_sample))
    keys = sorted(
        r[0]
        for r in df.filter(
            F.pmod(F.xxhash64(F.col(order_col)), F.lit(m)) == 0
        )
        .select(order_col)
        .collect()
    )
    if not keys:
        return []
    step = max(1, len(keys) // n_ranges)
    return sorted({keys[i] for i in range(step, len(keys), step)})[: n_ranges - 1]


def vocab_topk(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 200,
) -> DataFrame:
    """Top-k corpus vocabulary: (token, tf, df), the tokenizer-training /
    stopword-list precursor of an LLM data pipeline.

    tf = total occurrences, df = documents containing the token; ordered
    by (tf DESC, token ASC) — a total order, so the k-cutoff is
    deterministic on every engine.

    Scale posture: ONE explode feeding a token groupBy.  tf is
    map-side-combinable (partial aggregation absorbs the stop-word skew:
    each partition emits one partial row per distinct token, so the hot
    token's shuffle fan-in is #partitions rows, not #occurrences);
    df = count(distinct doc_id) expands per (token, doc) — exact here, at
    100 TB swap in approx_count_distinct for a fixed-size HLL partial the
    same way countuniq_approx_gate does.  The final top-k is a
    TakeOrderedAndProject (per-partition heap + driver merge of k rows),
    never a full sort.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return agg.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(k)


def unigram_logprob_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained unigram LM quality score per document — the unigram
    analog of CCNet's KenLM perplexity filter (no external model in the
    sandbox, so the model IS the corpus: add-one-smoothed token
    frequencies).

    Two passes over one explode: (1) vocabulary ``token -> count`` plus a
    1-row ``(total, V)``; (2) every token scored ``ln((cnt+1)/(total+V))``
    and summed per document.  Returns ``(doc_id, n_toks, sum_logp)``;
    consumers threshold ``sum_logp / n_toks`` (mean log-prob, a perplexity
    proxy) — the division is left to the consumer so the compared output
    stays exact.

    Determinism contract: each token's log-prob is a pure function of
    integers, rounded to 9 decimals and cast to DECIMAL(28,9) BEFORE the
    per-doc sum, so the sum is exact integer arithmetic — immune to
    float addition order across partitions (the raw-double-sum trap the
    driver-gate methodology bans).

    Scale shape: vocab build = map-side-combinable count groupBy (the
    stop-word key is absorbed into per-partition partials); the scoring
    join is token -> vocab, a natural-language vocabulary (~1e6 rows at
    web scale), broadcastable after aggregation; the 1-row totals are a
    cross-join broadcast by construction.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vsz")
    )
    logp = F.round(
        F.log(
            (F.col("cnt") + F.lit(1).cast("double"))
            / (F.col("total") + F.col("vsz")).cast("double")
        ),
        9,
    ).cast("decimal(28,9)")
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(totals))
        .select(F.col(id_col), logp.alias("logp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("logp").alias("sum_logp"),
    )


# PII patterns kept to the Java-regex / RE2 common subset (no lookaround,
# no backrefs) so the same pattern string runs verbatim in Spark (Java
# `java.util.regex`) and in engine-portable oracles (RE2-family engines).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_HEX32 = r"\b[0-9a-f]{32}\b"


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc PII detection + redaction: emails, IPv4 addresses and
    32-hex secrets (API-key/md5-shaped tokens) are counted on the raw
    text and masked to ``<EMAIL>``/``<IP>``/``<SECRET>`` in a fixed
    pass order (email first, so an address-shaped substring inside an
    email never double-masks).

    Returns ``(id, n_emails, n_ipv4, n_secrets, redacted_md5)`` — the
    digest rather than the redacted body keeps the compared output
    narrow; the redacted text itself is ``regexp_replace`` chains any
    caller can inline.

    Scale shape: one projection, zero shuffle, whole-stage codegen —
    per-row regex work on the JVM, no Python.  Counts are computed on
    the original text independently of masking, so overlapping detector
    classes are visible to consumers (documented, not hidden).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_HEX32, "<SECRET>")
    return docs.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).cast("long").alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_HEX32)).cast("long").alias("n_secrets"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
    )


def source_mixing_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled data-mixing weights per source (the
    multilingual-sampling rule of Lample/Conneau 2019 §3.1, used for
    domain mixing in LLM data pipelines): ``raw_s = (tokens_s /
    total_tokens) ** alpha``, reported per source with its token count.

    Normalization (``raw_s / sum(raw)``) is left to the consumer — the
    per-source raw weight is a pure function of two integers rounded to
    9 decimals, so the compared output stays exact, while a normalized
    share would divide by an order-sensitive float sum.

    Scale shape: map-side-combinable token-count groupBy (one shuffle of
    |sources| partials), 1-row total broadcast by construction; the
    output is |sources| rows — driver-safe.
    """
    per_src = docs.groupBy(source_col).agg(
        F.sum(
            F.coalesce(token_count_col(text_col), F.lit(0))
        ).alias("n_tokens")
    )
    total = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    raw = F.round(
        F.pow(
            F.col("n_tokens").cast("double")
            / F.col("total_tokens").cast("double"),
            F.lit(float(alpha)),
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            F.col(source_col),
            F.col("n_tokens"),
            raw.alias("raw_weight"),
        )
    )


def bm25_probe_scores(
    docs: DataFrame,
    probe_tokens: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document against a fixed probe-token set
    (Robertson/Zaragoza 2009, the standard keyword retrieval scorer) —
    the text-side counterpart of the embedding ANN operators.

    score(d) = sum over probe tokens q of
      idf(q) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(q) = ln((N - df + 0.5)/(df + 0.5) + 1).

    Determinism contract: tf/df/N/dl are integers and avgdl a ratio of
    integers, so each per-token contribution is a pure double function
    of integers; it is rounded to 9 decimals and DECIMAL-summed per doc
    — exact under any partition order.  Only docs containing at least
    one probe token appear (tf=0 contributes 0 by the formula).

    Scale shape: probes broadcast as a literal array; tf extraction is
    one JVM filter+explode over tokens with the probe membership pushed
    BEFORE the only shuffle (per (doc, tok) count groupBy); df and the
    (N, avgdl) totals are tiny aggregates broadcast back.  No UDFs.
    """
    probes = F.array(*[F.lit(p) for p in probe_tokens])
    toks = docs.select(
        F.col(id_col),
        token_count_col(text_col).alias("dl"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("tok"),
    ).where(F.array_contains(probes, F.col("tok")))
    tf = toks.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    corpus = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.coalesce(token_count_col(text_col), F.lit(0))
        ).alias("total_tokens"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs")
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl") / avgdl
    )
    contrib = F.round(
        idf * F.col("tf") * F.lit(float(k1) + 1.0) / denom, 9
    ).cast("decimal(28,9)")
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(corpus))
        .select(F.col(id_col), contrib.alias("contrib"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_probe_hits"),
        F.sum("contrib").alias("bm25_score"),
    )
