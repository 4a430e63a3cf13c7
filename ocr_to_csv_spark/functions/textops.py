"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting, exact dedup.

All heuristics are deterministic, JVM-side expressions (no Python UDFs) so
they survive whole-stage codegen at 100 TB; each has a DuckDB oracle with
identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .graphtext import _edges
from .util import (
    DUCK_HEX32,
    DUCK_HEX32B,
    DUCK_TOKENS,
    duck_ngrams,
    hex32,
    hex32b,
    ngrams,
    table,
    tokens,
)

# tiny per-language stopword lexicons (n-gram heuristic; deterministic)
_LEX = {
    "en": r"\b(the|a|of|and|is)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|y|es)\b",
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: stopword-hit argmax with fixed priority en>de>fr>es,
    CJK-codepoint override for zh, 'und' when no lexicon hits."""
    d = table(spark, sf_dir, "documents")
    hits = {k: F.regexp_count("text", F.lit(v)) for k, v in _LEX.items()}
    zh = F.regexp_count("text", F.lit(r"[一-鿿]"))
    best = F.greatest(*hits.values())
    pred = (
        F.when(zh > 0, "zh")
        .when(best == 0, "und")
        .when(hits["en"] == best, "en")
        .when(hits["de"] == best, "de")
        .when(hits["fr"] == best, "fr")
        .otherwise("es")
    )
    return d.select("doc_id", "lang", pred.alias("lang_pred"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length + punctuation-ratio + stopword-ratio blend,
    banded into keep/review/drop (integer-derived → exact parity)."""
    d = table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    punct = F.regexp_count("text", F.lit(r"[.,;:!?]"))
    stop = F.regexp_count("text", F.lit(_LEX["en"]))
    quality = F.round(
        F.least(toks / F.lit(100.0), F.lit(1.0)) * 0.5
        + (1.0 - punct / F.col("n_chars")) * 0.3
        + F.least(stop * F.lit(10.0) / toks, F.lit(1.0)) * 0.2,
        4,
    )
    band = (
        F.when(quality >= 0.7, "keep").when(quality >= 0.4, "review").otherwise("drop")
    )
    return d.select(
        "doc_id",
        toks.alias("n_tokens"),
        quality.alias("quality"),
        band.alias("band"),
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + BPE-ish regex tokens
    (letter runs / digit runs / single symbols)."""
    d = table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    bpe = F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    return (
        d.select("source", ws.alias("ws"), bpe.alias("bpe"))
        .groupBy("source")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.round(F.avg("ws"), 2).alias("avg_ws"),
        )
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: sequential polynomial rolling hash over word
    hashes mod 2^31-1 (left fold — identical order in both engines), plus a
    duplicate-group count over the fingerprint."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + hex32(w)) % F.lit(2147483647),
    )
    out = d.select("doc_id", fp.alias("fp"))
    w = Window.partitionBy("fp")
    return out.withColumn("dup_cnt", F.count("*").over(w))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash → canonical = min doc_id per hash,
    keep flag on the canonical row (hash-groupBy dedup at scale)."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.lower(F.col("text")), "UTF-8"))
    w = Window.partitionBy("h")
    return (
        d.select("doc_id", h.alias("h"))
        .withColumn("canonical", F.min("doc_id").over(w))
        .withColumn("keep", F.col("doc_id") == F.col("canonical"))
        .select("doc_id", "h", "canonical", "keep")
    )




def q_salted_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe word count: two-phase salted aggregation (§4.3a) over the
    exploded token stream — hot tokens ('the', 'a') spread across salts in
    the partial phase. Result provably equals the plain GROUP BY (the
    DuckDB oracle)."""
    from ..plans.skew import salted_count_sum

    d = table(spark, sf_dir, "documents", spread=True)
    words = d.select(
        F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("word")
    )
    return salted_count_sum(words, ["word"], n_salts=16)




def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation funnel: documents surviving each filter
    stage (language → quality band → exact-dedup canonical) — the summary
    table a training-data pipeline publishes per ingest batch."""
    lang = q_lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    qual = q_quality_score(spark, sf_dir).select("doc_id", "band")
    ded = q_dedup_exact(spark, sf_dir).select("doc_id", "keep")
    j = lang.join(qual, "doc_id").join(ded, "doc_id")
    return j.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("lang_pred") != "und", 1).otherwise(0)).alias("lang_ok"),
        F.sum(
            F.when((F.col("lang_pred") != "und") & (F.col("band") != "drop"), 1)
            .otherwise(0)
        ).alias("quality_ok"),
        F.sum(
            F.when(
                (F.col("lang_pred") != "und")
                & (F.col("band") != "drop")
                & F.col("keep"),
                1,
            ).otherwise(0)
        ).alias("kept"),
    )


# per-language keep rates (percent) for corpus rebalancing: downsample the
# dominant language, keep more of the tail — the standard pre-training mix
# adjustment. Deterministic hash sampling so every engine/run agrees.
SAMPLE_RATES = {"en": 30, "de": 60, "es": 60, "fr": 60, "zh": 60}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep a doc iff
    ``hash(doc_id) % 100 < rate(lang)``. The rate table is a broadcast
    dim join (at 100 TB the strata table is always dictionary-sized);
    hash sampling needs no shuffle, no RNG state, and is reproducible
    across engines and retries — unlike ``df.sample``."""
    d = table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        sorted(SAMPLE_RATES.items()), "lang string, rate int"
    )
    keep = (
        hex32(F.concat(F.lit("smp|"), F.col("doc_id").cast("string"))) % 100
        < F.col("rate")
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(keep)
        .select("doc_id", "lang", "source")
    )


BPE_MERGES = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training — the first ``BPE_MERGES``
    merge rules over the corpus (the Sennrich et al. algorithm every
    subword tokenizer build runs before pretraining).

    Scale shape (the part that matters at 100 TB): the corpus is touched
    ONCE, by the word-frequency aggregate (partial+final hash agg on the
    token); every merge round then runs over the VOCABULARY table
    (weighted by word count), which is dictionary-sized. Per round: one
    explode of adjacent symbol pairs + one sum agg + a single-row
    top-1 collect (the winning pair — kmeans-style tiny driver state),
    then a map-side fold rewrites each word's symbol array (left-to-right
    non-overlapping merge, the reference semantics). Nothing word-sized
    ever reaches the driver. Oracle: the same rounds unrolled as DuckDB
    CTEs with list_reduce folds — exact integer counts, deterministic
    (count DESC, left ASC, right ASC) tie-break."""
    _, out_rows = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        out_rows, "merge_rank long, lhs string, rhs string, pair_count long"
    )


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Shared BPE trainer: returns (vocabulary with ALL learned merges
    applied to each word's symbol list, merge rows). The vocabulary
    frame is dictionary-sized — it is the tokenizer artifact
    ``q_bpe_encode`` broadcasts to encode the corpus."""
    d = table(spark, sf_dir, "documents", spread=True)
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "syms", F.filter(F.split(F.col("w"), ""), lambda s: s != "")
        )
    )
    out_rows = []
    for rank in range(BPE_MERGES):
        pairs = words.filter(F.size("syms") >= 2).select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        out_rows.append((rank + 1, l, r, c))
        merged = F.lit(l + r)
        words = words.withColumn(
            "syms",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (s == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ),
        ).localCheckpoint()  # truncate the per-round expression lineage
    return words, out_rows


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the encode pass every pretraining
    pipeline runs over the full corpus after training (``q_bpe_merges``
    is the trainer). The corpus is touched once: tokens explode with
    position, the encoded vocabulary (word → final subword pieces,
    dictionary-sized) broadcasts in, and one per-doc aggregate emits the
    piece count, the pieces-per-token ratio (single IEEE division) and
    the md5 of the space-joined piece stream in document order — the
    encoded-stream key that detokenization audits and dedup can chain
    on. At 100 TB the broadcast becomes the top-V vocabulary with a
    char-fallback default; the plan (scan → broadcast join → doc-keyed
    agg) is unchanged."""
    vocab, _ = _bpe_learn(spark, sf_dir)
    enc = vocab.select(
        "w",
        F.size("syms").alias("n_sub"),
        F.array_join("syms", " ").alias("piece_str"),
    )
    d = table(spark, sf_dir, "documents", spread=True)
    tf = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    per_tok = tf.join(F.broadcast(enc), "w")
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_sub").alias("n_pieces"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "piece_str"))
                        ),
                        lambda s: s["piece_str"],
                    ),
                )
            ).alias("stream_md5"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_pieces").cast("long").alias("n_pieces"),
            (F.col("n_pieces").cast("double") / F.col("n_tokens")).alias(
                "pieces_per_token"
            ),
            "stream_md5",
        )
    )


MIX_TARGET = {"de": 15, "en": 40, "es": 15, "fr": 15, "zh": 15}  # % shares
MIX_BUDGET_PCT = 60  # total sample budget as % of the corpus


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data MIXING: rebalance the corpus to a target language
    composition (the Pile/Dolma-style mixture step every pretraining
    pipeline runs before tokenization). Per-stratum acceptance rate =
    min(100%, stratum_budget / stratum_count) with
    stratum_budget = (corpus_total · budget%) · target_share% — all
    integer arithmetic so the oracle is exact; membership is the same
    deterministic hash-mod draw as ``q_stratified_sample`` (reproducible
    across engines and retries, no RNG state). Cost at 100 TB: one
    count-by-lang agg (dictionary-sized result), a broadcast of the rate
    table, and a map-side filter — the corpus never shuffles."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    total = d.agg(F.count("*").alias("total"))
    tgt = spark.createDataFrame(
        sorted(MIX_TARGET.items()), "lang string, share int"
    )
    rates = (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(tgt), "lang")
        .select(
            "lang",
            "n_docs",
            F.least(
                F.lit(100),
                F.expr(
                    f"(total * {MIX_BUDGET_PCT} DIV 100) * share DIV 100 "
                    "* 100 DIV n_docs"
                ),
            ).cast("long").alias("rate_pct"),
        )
    )
    keep = (
        hex32(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))) % 100
        < F.col("rate_pct")
    )
    sampled = (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .filter(keep)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    return rates.join(sampled, "lang", "left").select(
        "lang", "n_docs", "rate_pct",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
    )


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-word n-gram with the held-out eval set (docs with doc_id % 20 == 0
    stand in for the benchmark suite). The eval n-gram set is
    dictionary-sized relative to the corpus, so the overlap check is a
    BROADCAST semi-join on the n-gram — the contaminated-doc scan stays
    one map-side pass at 100 TB (GPT-3-style 13-gram decontamination,
    shortened to 5-grams for the synthetic corpus)."""
    d = table(spark, sf_dir, "documents", spread=True)
    grams = d.select("doc_id", F.explode(ngrams(F.col("text"), 5)).alias("g")).distinct()
    eval_g = grams.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    train_g = grams.filter(F.col("doc_id") % 20 != 0)
    hits = (
        train_g.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        d.filter(F.col("doc_id") % 20 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_contaminated"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality rules):
    fraction of word 2-grams that are repeats of an earlier 2-gram, and
    the frequency share of the most common token. Both are pure
    per-document array expressions — map-side only, no shuffle, fully
    codegen'd; high-repetition docs are boilerplate/spam candidates."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    grams = ngrams(F.col("text"), 2)
    n_g = F.size(grams)
    dup_frac = F.when(
        n_g > 0,
        F.round((n_g - F.size(F.array_distinct(grams))) / n_g, 4),
    ).otherwise(F.lit(0.0))
    # max token frequency / token count: sort tokens, count the longest
    # equal-run via aggregate over positions (expression-only argmax)
    st = F.array_sort(toks)
    n_t = F.size(st)
    runs = F.aggregate(
        F.sequence(F.lit(2), n_t),
        F.struct(F.lit(1).alias("run"), F.lit(1).alias("best")),
        lambda acc, i: F.struct(
            F.when(F.element_at(st, i) == F.element_at(st, i - 1), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(
                    F.element_at(st, i) == F.element_at(st, i - 1), acc["run"] + 1
                ).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    # guard: Spark's sequence(2, n) DESCENDS for n < 2 (DuckDB's
    # generate_series is empty) — take the fold only when it's well-formed
    best = F.when(n_t >= 2, runs["best"]).otherwise(n_t)
    top_frac = F.when(n_t > 0, F.round(best / n_t, 4)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n_g.cast("long").alias("n_2grams"),
        dup_frac.alias("dup_2gram_frac"),
        top_frac.alias("top_token_frac"),
    )


# PII patterns (no \b anchors: Java-regex and RE2 word boundaries are
# only guaranteed to agree on ASCII, and these patterns self-delimit)
_PII = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"555-\d{3}-\d{4}",
    "ip": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
}


def _pii_enriched() -> Column:
    """The synthetic corpus is a clean word bag, so augment each document
    in-query with PII derived from doc_id (same stand-in precedent as
    q_decontam's doc_id % 20 eval set): both engines build the identical
    enriched string, so the scrub path is genuinely exercised."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")
    email = F.when(
        did % 3 == 0,
        F.concat(F.lit(" u"), s(did), F.lit("@ex"), s(did % 7), F.lit(".org")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 4 == 0,
        F.concat(
            F.lit(" 555-"), s(did % 900 + 100), F.lit("-"),
            F.lpad(s((did * 37) % 10000), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" 10."), s(did % 256), F.lit("."), s((did * 3) % 256),
            F.lit("."), s((did * 7) % 256),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ip)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count + scrub emails / phone numbers / IPv4
    addresses (email → phone → ip, fixed order) into typed placeholders.
    Pure map-side regexp expressions — codegen'd, no shuffle, embarrassingly
    parallel at 100 TB; the scrubbed text is md5'd so the oracle verifies
    the full replacement output without shipping long strings."""
    d = table(spark, sf_dir, "documents", spread=True)
    t = _pii_enriched()
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII["email"], "[EMAIL]"),
            _PII["phone"], "[PHONE]",
        ),
        _PII["ip"], "[IP]",
    )
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(_PII["email"])).alias("n_emails"),
        F.regexp_count(t, F.lit(_PII["phone"])).alias("n_phones"),
        F.regexp_count(t, F.lit(_PII["ip"])).alias("n_ips"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("scrub_md5"),
    )


def q_url_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-host rollup (the crawl-frequency table a
    curation pipeline uses for domain-level filtering): regexp-extract all
    URLs, parse the host, aggregate url/document counts per host. One
    map-side extract pass + one modest-cardinality groupBy (hosts, not
    URLs, are the key — AQE handles residual hot-host skew; for truly
    pathological hosts the salted two-phase agg in plans/skew.py applies
    unchanged)."""
    d = table(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    s = lambda c: c.cast("string")
    u1 = F.when(
        did % 2 == 0,
        F.concat(F.lit(" http://h"), s(did % 5), F.lit(".example.com/p/"), s(did)),
    ).otherwise(F.lit(""))
    u2 = F.when(
        did % 6 == 0,
        F.concat(F.lit(" https://cdn"), s(did % 3), F.lit(".example.net/a?b="), s(did)),
    ).otherwise(F.lit(""))
    t = F.concat(F.col("text"), u1, u2)
    urls = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(t, F.lit(r"https?://[^\s]+"), 0)).alias("url"),
    )
    return (
        urls.select(
            "doc_id",
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def q_lm_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model commonness scoring (CCNet-style perplexity
    filtering, integer-exact variant): train unigram counts on the corpus
    itself (the classic wordcount — map-side partial agg), then score
    each document by the mean corpus frequency of its tokens. Rare-token
    documents (low mean_freq) are OCR noise / gibberish candidates;
    boilerplate scores high. At 100 TB the vocabulary aggregate is one
    shuffle keyed by token (bounded cardinality), and the scoring join
    broadcasts the top-V vocabulary with a smoothed default for the tail
    — here the whole vocab is dictionary-sized so it broadcasts whole.
    Exact by construction: counts are integers, the only float op is one
    final IEEE division + round."""
    d = table(spark, sf_dir, "documents", spread=True)
    tf = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = tf.groupBy("tok").agg(F.count("*").alias("cnt"))
    return (
        tf.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("common_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "common_sum",
            F.round(
                F.col("common_sum").cast("double") / F.col("n_tokens"), 4
            ).alias("mean_freq"),
        )
    )


TFIDF_TERMS = ("table", "query", "spark")
TFIDF_TOPN = 20


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF retrieval for a fixed query-term set, integer-exact: tf per
    term is a map-side array expression (no explode, no shuffle), df/N is
    ONE tiny aggregate row broadcast back, idf is integer-scaled
    floor(N*1e6/df) so scores are exact bigints, and the final top-N is
    TakeOrderedAndProject (no full sort). The 100 TB shape: one scan +
    one single-row agg + one top-k — the inverted-index alternative only
    pays off when the query workload is large and reusable."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))

    def tf(term):
        # NB: the lambda must be unary — a 2-arg lambda would be treated
        # as (element, index) by F.filter
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = d.select(
        "doc_id", *[tf(t).alias(f"tf_{t}") for t in TFIDF_TERMS]
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in TFIDF_TERMS
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    score = None
    for t in TFIDF_TERMS:
        idf = F.expr(f"n_docs * 1000000L div greatest(df_{t}, 1L)")
        term = F.col(f"tf_{t}") * idf
        score = term if score is None else score + term
    ranked = j.select(
        "doc_id", *[f"tf_{t}" for t in TFIDF_TERMS], score.alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id")).limit(TFIDF_TOPN)
    return ranked


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink-graph construction (crawl-frontier analytics): extract
    outlink URLs per document (map-side regexp, same synthesized links as
    q_url_hosts), roll up to (source, dst_host) edges with link/document
    weights, and join each edge to its destination's in-degree (distinct
    linking sources). The edge rollup is keyed by (source, host) —
    bounded cardinality, AQE absorbs hot-host skew — and the in-degree
    table is edge-rollup-sized, so it broadcasts; nothing in the plan
    touches per-URL cardinality after the first groupBy."""
    d = table(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    s = lambda c: c.cast("string")
    u1 = F.when(
        did % 2 == 0,
        F.concat(F.lit(" http://h"), s(did % 5), F.lit(".example.com/p/"), s(did)),
    ).otherwise(F.lit(""))
    u2 = F.when(
        did % 6 == 0,
        F.concat(F.lit(" https://cdn"), s(did % 3), F.lit(".example.net/a?b="), s(did)),
    ).otherwise(F.lit(""))
    t = F.concat(F.col("text"), u1, u2)
    edges = (
        d.select(
            "source",
            "doc_id",
            F.explode(
                F.regexp_extract_all(t, F.lit(r"https?://[^\s]+"), 0)
            ).alias("url"),
        )
        .select(
            F.col("source").alias("src"),
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("dst"),
            "doc_id",
        )
        .groupBy("src", "dst")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    indeg = edges.groupBy("dst").agg(
        F.countDistinct("src").alias("dst_in_degree")
    )
    return edges.join(F.broadcast(indeg), "dst").select(
        "src", "dst", "n_links", "n_docs", "dst_in_degree"
    )


PR_SCALE = 1_000_000  # fixed-point rank units per node at init
PR_ITERS = 3


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over a synthesized doc→doc link graph — the
    Pregel-in-DataFrame idiom: the static edge list (joined once to its
    out-degrees) meets the node-sized rank table in a shuffle equi-join
    on src each superstep, contributions re-aggregate by dst, and a left
    join against the node universe restores dangling/no-inlink nodes.
    Per iteration that is one join + one groupBy, both keyed — the same
    plan at 10^9 nodes (ranks never broadcast, never collected).

    Exact by construction: ranks are integer fixed-point units
    (PR_SCALE per node), damping is floor(r*85/100) split as
    floor(·/outdeg) per edge — all order-independent integer sums, so
    the DuckDB oracle (same 3 unrolled iterations) matches bit-for-bit.
    Leftover units from the two floors leak deterministically (no
    renormalization), as does dangling mass — both engines agree.
    Edges are modular-arithmetic synthesized over the dense doc_id
    domain: d→(2d+1)%N unless d%3==0, d→(7d+3)%N for even d,
    d→(d+N/2)%N when d%6==1; d%6==3 nodes are dangling."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    edges = _edges(nodes, n)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = edges.join(outdeg, "src")  # static across supersteps
    base = PR_SCALE * 15 // 100
    ranks = nodes.select("id", F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        inc = (
            ed.join(ranks.withColumnRenamed("id", "src"), "src")
            .select("dst", F.expr("(r * 85 div 100) div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = nodes.join(inc, nodes.id == inc.dst, "left").select(
            "id",
            (F.lit(base) + F.coalesce("inc", F.lit(0))).cast("long").alias("r"),
        )
    return ranks.select(F.col("id").alias("doc_id"), F.col("r").alias("rank_units"))


_PR_SQL = """
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    edges AS (
        SELECT id AS src, (id*2+1) %% (SELECT n FROM nn) AS dst
        FROM nodes WHERE id %% 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) %% (SELECT n FROM nn) FROM nodes WHERE id %% 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) %% (SELECT n FROM nn)
        FROM nodes WHERE id %% 6 = 1
    ),
    deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
    r0 AS (SELECT id, 1000000::BIGINT AS r FROM nodes),
    %s
    SELECT id AS doc_id, r AS rank_units FROM r%d
"""

_PR_STEP = """
    r%d AS (
        SELECT n.id, (150000 + coalesce(c.inc, 0))::BIGINT AS r
        FROM nodes n LEFT JOIN (
            SELECT e.dst, sum((p.r * 85 // 100) // d.deg)::BIGINT AS inc
            FROM edges e JOIN deg d USING (src) JOIN r%d p ON p.id = e.src
            GROUP BY e.dst
        ) c ON c.dst = n.id
    )
"""


def _pagerank_oracle_sql() -> str:
    steps = ",".join(_PR_STEP % (k + 1, k) for k in range(PR_ITERS))
    return _PR_SQL % (steps, PR_ITERS)  # %-format also folds %% -> %


CM_ROWS = 2  # count-min sketch: 2 hash rows x 256 columns
CM_COLS = 256
CM_PROBES = ["the", "merge", "batch", "data", "xyzzy"]


def _cm_col(col: Column, r: int) -> Column:
    return hex32(F.concat(F.lit(f"cm{r}|"), col)) % CM_COLS


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch — the frequency-sketch class
    next to MinHash/SimHash/Bloom: every token increments one counter
    per hash row, a probe's estimate is the MIN of its row counters
    (never an undercount — the oracle asserts the guarantee per probe
    next to the exact count). The sketch is 2x256 cells, so the groupBy
    shuffles at most 512 rows per task no matter the corpus size, and
    probes join against it broadcast — the constant-memory way to track
    hot tokens / hot keys over a 100 TB stream where an exact groupBy
    per token would shuffle the full token stream."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    rc = None
    for r in range(CM_ROWS):
        part = toks.select(F.lit(r).alias("r"), _cm_col(F.col("tok"), r).alias("c"))
        rc = part if rc is None else rc.unionByName(part)
    sketch = rc.groupBy("r", "c").agg(F.count("*").alias("cnt"))
    probes = spark.createDataFrame([(t,) for t in CM_PROBES], "token string")
    prc = probes.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cm_col(F.col("token"), r).alias("c")
                    )
                    for r in range(CM_ROWS)
                ]
            )
        ).alias("rc"),
    ).select("token", "rc.r", "rc.c")
    est = (
        prc.join(sketch, ["r", "c"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_est"))
    )
    exact = (
        toks.filter(F.col("tok").isin(CM_PROBES))
        .groupBy("tok")
        .agg(F.count("*").alias("n_exact"))
    )
    return est.join(exact, est.token == exact.tok, "left").select(
        "token",
        F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
        "cm_est",
        (F.col("cm_est") >= F.coalesce("n_exact", F.lit(0))).alias("no_undercount"),
    )


CC_ROUNDS = 7  # >= graph diameter by construction (chains of 8)


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    second graph-algorithm class next to pagerank: labels start as node
    ids; each superstep every node takes the min of its own label and
    its neighbors' (edge⋈label equi-join on the source, min-groupBy on
    the destination, left-join back onto the node universe). The edge
    list is synthesized as chains of 8 over the dense doc_id domain
    (d—d+1 unless d%8==7) plus intra-block shortcuts (d—d-5 when
    d%8>=5), so the diameter is < CC_ROUNDS and the fixed-round loop
    provably converges; the oracle is the analytically-known component
    id 8*(d div 8). Per superstep the plan is one shuffle join + one
    groupBy, both keyed — at a 10^9-node scale you'd swap the linear
    propagation for pointer-doubling (log-diameter rounds), same
    per-round plan shape."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    i = F.col("id")
    fwd = (
        nodes.filter(i % 8 != 7)
        .select(i.alias("a"), (i + 1).alias("b"))
        .filter(F.col("b") < n)
    )
    cross = nodes.filter(i % 8 >= 5).select(i.alias("a"), (i - 5).alias("b"))
    e = fwd.unionByName(cross)
    edges = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = nodes.select("id", i.alias("comp"))
    for _ in range(CC_ROUNDS):
        nb = (
            edges.join(
                labels.select(F.col("id").alias("a"), F.col("comp").alias("lc")),
                "a",
            )
            .groupBy("b")
            .agg(F.min("lc").alias("nb_min"))
        )
        labels = labels.join(nb, labels.id == nb.b, "left").select(
            "id",
            F.least("comp", F.coalesce("nb_min", F.col("comp"))).alias("comp"),
        )
    w = Window.partitionBy("comp")
    return labels.select(F.col("id").alias("doc_id"), "comp").withColumn(
        "comp_size", F.count("*").over(w)
    )


BLOOM_WORDS = 32  # 32 x 32-bit words = 1024 bits, 2 hash functions


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime semi-join — the 100 TB decontamination
    pattern: instead of shuffling (or even broadcasting) the full eval
    n-gram SET, aggregate it into a 1024-bit Bloom filter (two md5-slice
    hash functions, bit_or per word), ship the tiny bitmap as a literal,
    and pre-filter training-side n-grams map-side; only bloom survivors
    pay the exact (broadcast) join that removes false positives. This is
    what AQE's runtime filters / Iceberg bloom policies do under the
    hood, expressed explicitly. Guarantee checked by the oracle: zero
    false NEGATIVES (every truly contaminated gram passes the bloom), a
    measured false-positive count, everything integer-exact."""
    d = table(spark, sf_dir, "documents", spread=True)
    grams = (
        d.select("doc_id", F.explode(ngrams(F.col("text"), 5)).alias("g"))
        .distinct()
    )
    m_bits = BLOOM_WORDS * 32
    p1 = (hex32(F.col("g")) % m_bits).alias("p1")
    p2 = (hex32b(F.col("g")) % m_bits).alias("p2")
    eval_g = grams.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    bitmap_rows = (
        eval_g.select(
            F.explode(
                F.array(hex32(F.col("g")) % m_bits, hex32b(F.col("g")) % m_bits)
            ).alias("p")
        )
        .select(
            F.expr("p div 32").alias("w"),
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    bits = [0] * BLOOM_WORDS
    for r in bitmap_rows:
        bits[int(r["w"])] = int(r["bits"])
    bloom = F.array(*[F.lit(int(x)).cast("long") for x in bits])
    train_g = grams.filter(F.col("doc_id") % 20 != 0).select(
        "doc_id", "g", p1, p2
    )
    hit = lambda p: (
        F.element_at(bloom, F.expr(f"cast({p} div 32 as int)") + 1).bitwiseAND(
            F.expr(f"shiftleft(1L, cast({p} % 32 as int))")
        )
        != 0
    )
    cand = train_g.filter(hit("p1") & hit("p2"))
    exact = cand.join(
        F.broadcast(eval_g.withColumn("true_hit", F.lit(1))), "g", "left"
    )
    return exact.groupBy("doc_id").agg(
        F.count("*").alias("n_candidate_grams"),
        F.sum(F.coalesce("true_hit", F.lit(0))).alias("n_true_grams"),
        (F.count("*") - F.sum(F.coalesce("true_hit", F.lit(0)))).alias(
            "n_false_pos"
        ),
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN detection at 5-gram granularity
    (the substring-dedup signal of "Deduplicating Training Data Makes
    Language Models Better": long verbatim repeats across documents).

    Per document: total 5-grams, how many of its gram positions occur in
    >= 2 distinct documents, the duplicated fraction, and the longest
    CONSECUTIVE duplicated run (gaps-and-islands window: ``pos -
    row_number`` over dup positions) — the run length is what separates a
    quoted sentence from a wholesale copied page.

    Scale: gram text never shuffles — only its 64-bit md5 slice (hex32)
    is the shuffle/join key, so shuffle width is (doc_id, pos, int64) per
    gram.  The doc-frequency agg combines map-side; the dup-flag join is
    a plain equi-join on the hash (natural-language 5-grams have bounded
    df, no skew salt needed).  Hash collisions conflate grams identically
    in Spark and the oracle, which is also exactly what a production
    hash-shingle pipeline accepts at 100 TB."""
    d = table(spark, sf_dir, "documents", spread=True)
    grams = d.select(
        "doc_id", F.posexplode(ngrams(F.col("text"), 5)).alias("pos", "g")
    ).select("doc_id", "pos", hex32(F.col("g")).alias("gh"))
    df_docs = grams.groupBy("gh").agg(F.count_distinct("doc_id").alias("nd"))
    flagged = grams.join(df_docs, "gh").select(
        "doc_id", "pos", (F.col("nd") >= 2).cast("int").alias("dup")
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"), F.sum("dup").alias("n_dup_grams")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        flagged.filter(F.col("dup") == 1)
        .withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "island")
        .agg(F.count("*").alias("run"))
        .groupBy("doc_id")
        .agg(F.max("run").alias("max_dup_run"))
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.round(F.col("n_dup_grams") / F.col("n_grams"), 4))
            .alias("dup_frac"),
            F.coalesce("max_dup_run", F.lit(0)).cast("long").alias("max_dup_run"),
        )
    )


def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability LM scoring — the n-gram upgrade of
    ``q_lm_commonness``: train bigram and unigram counts on the corpus,
    then score each document by the mean scaled conditional probability
    floor(1e6 * count(w1 w2) / count(w1·)) over its bigrams. Low scores
    mark improbable word transitions (OCR garble, shuffled text) that
    unigram frequency cannot see.

    Scale: two bounded-cardinality count aggregations (map-side partial),
    one broadcast join per table — the LM tables are vocabulary-sized,
    not corpus-sized. count(w1·) is derived from the bigram table itself
    (sum over w2), so the unigram denominator matches the bigram
    numerator even at document boundaries. Integer-exact: the scaled
    probability uses floor of one IEEE division."""
    d = table(spark, sf_dir, "documents", spread=True)
    big = d.select("doc_id", F.explode(ngrams(F.col("text"), 2)).alias("bg"))
    counts = big.groupBy("bg").agg(F.count("*").alias("c2"))
    w1 = counts.withColumn("w1", F.split("bg", " ")[0])
    denom = w1.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = w1.join(F.broadcast(denom), "w1").select(
        "bg",
        F.floor(F.lit(1000000.0) * F.col("c2") / F.col("c1")).alias("p6"),
    )
    return (
        big.join(F.broadcast(lm), "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("p6").alias("p6_sum"))
        .select(
            "doc_id",
            "n_bigrams",
            F.floor(F.col("p6_sum") / F.col("n_bigrams"))
            .cast("long")
            .alias("mean_p6"),
        )
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis–Spirakis A-ES), the
    data-mixing primitive: draw k=5 documents per language with inclusion
    probability proportional to document length, deterministically.

    Each doc gets key = -ln(u)/w with u = (hash(doc_id)+1)/2^32 hash-
    uniform and w = n_chars; the k smallest keys per stratum are an exact
    weighted sample. One narrow map-side projection + a per-group top-k
    window — no RNG state, no shuffle beyond the top-k, reproducible
    across engines/retries (df.sample is none of these). At 100 TB the
    window input is (lang, doc_id, key) only."""
    d = table(spark, sf_dir, "documents")
    u = (
        hex32(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))) + 1
    ) / F.lit(4294967296.0)
    key = -F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(F.asc("key"), F.asc("doc_id"))
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("key"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "doc_id", "lang", "rank", F.round("key", 10).alias("sample_key")
        )
    )


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the retrieval structure behind the
    TF-IDF/BM25 layer: token → document frequency + sorted posting list,
    for the 20 highest-df tokens (deterministic tie-break on token).

    One distinct (token, doc) projection, one groupBy token building the
    posting array map-side-partial, one TakeOrderedAndProject for the
    top slice. At 100 TB postings shard naturally by token hash and the
    per-token array is bounded by document frequency — the hot tokens
    ('the') are exactly the ones a real index stopword-caps, which the
    top-20 df slice makes visible. Posting lists serialize to CSV
    strings so the oracle comparison is array-representation-agnostic."""
    d = table(spark, sf_dir, "documents", spread=True)
    tf = d.select(
        F.explode(tokens(F.col("text"))).alias("tok"), "doc_id"
    ).distinct()
    idx = tf.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return idx.orderBy(F.desc("df"), F.asc("tok")).limit(20)


QUERIES = {
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_stats": q_token_stats,
    "fingerprint": q_fingerprint,
    "dedup_exact": q_dedup_exact,
    "salted_wordcount": q_salted_wordcount,
    "curation_funnel": q_curation_funnel,
    "stratified_sample": q_stratified_sample,
    "mix_sample": q_mix_sample,
    "decontam": q_decontam,
    "repetition": q_repetition,
    "pii_scrub": q_pii_scrub,
    "url_hosts": q_url_hosts,
    "lm_commonness": q_lm_commonness,
    "tfidf_topk": q_tfidf_topk,
    "link_graph": q_link_graph,
    "bloom_semi_join": q_bloom_semi_join,
    "pagerank": q_pagerank,
    "connected_components": q_connected_components,
    "heavy_hitters": q_heavy_hitters,
    "dup_spans": q_dup_spans,
    "weighted_sample": q_weighted_sample,
    "lm_bigram": q_lm_bigram,
    "postings": q_postings,
}

_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

ORACLES = {
    "lang_id": f"""
        SELECT doc_id, lang,
               CASE WHEN zh > 0 THEN 'zh'
                    WHEN best = 0 THEN 'und'
                    WHEN h_en = best THEN 'en'
                    WHEN h_de = best THEN 'de'
                    WHEN h_fr = best THEN 'fr'
                    ELSE 'es' END AS lang_pred
        FROM (
            SELECT doc_id, lang,
                   len(regexp_extract_all(text, '{_LEX["en"]}')) AS h_en,
                   len(regexp_extract_all(text, '{_LEX["de"]}')) AS h_de,
                   len(regexp_extract_all(text, '{_LEX["fr"]}')) AS h_fr,
                   len(regexp_extract_all(text, '{_LEX["es"]}')) AS h_es,
                   len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS zh,
                   greatest(len(regexp_extract_all(text, '{_LEX["en"]}')),
                            len(regexp_extract_all(text, '{_LEX["de"]}')),
                            len(regexp_extract_all(text, '{_LEX["fr"]}')),
                            len(regexp_extract_all(text, '{_LEX["es"]}'))) AS best
            FROM documents
        )
    """,
    "quality_score": f"""
        SELECT doc_id, n_tokens, quality,
               CASE WHEN quality >= 0.7 THEN 'keep'
                    WHEN quality >= 0.4 THEN 'review'
                    ELSE 'drop' END AS band
        FROM (
            SELECT doc_id, toks AS n_tokens,
                   round(least(toks / 100.0, 1.0) * 0.5
                         + (1.0 - punct / n_chars) * 0.3
                         + least(stop * 10.0 / toks, 1.0) * 0.2, 4) AS quality
            FROM (
                SELECT doc_id, n_chars,
                       len({_TOKS}) AS toks,
                       len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
                       len(regexp_extract_all(text, '{_LEX["en"]}')) AS stop
                FROM documents
            )
        )
    """,
    "token_stats": f"""
        SELECT source, sum(ws)::BIGINT AS ws_tokens, sum(bpe)::BIGINT AS bpe_tokens,
               round(avg(ws), 2) AS avg_ws
        FROM (
            SELECT source, len({_TOKS}) AS ws,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe
            FROM documents
        ) GROUP BY source
    """,
    "fingerprint": f"""
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dup_cnt
        FROM (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(0::BIGINT,
                           list_transform({_TOKS}, w -> {DUCK_HEX32.format(x="w")})),
                       (acc, h) -> (acc * 31 + h) % 2147483647) AS fp
            FROM documents
        )
    """,
    "dedup_exact": """
        SELECT doc_id, h, canonical, doc_id = canonical AS keep
        FROM (
            SELECT doc_id, md5(lower(text)) AS h,
                   min(doc_id) OVER (PARTITION BY md5(lower(text))) AS canonical
            FROM documents
        )
    """,
    "curation_funnel": f"""
        WITH lang AS ({{LANG_SQL}}),
        qual AS ({{QUAL_SQL}}),
        ded AS ({{DED_SQL}})
        SELECT count(*)::BIGINT AS total,
               sum(CASE WHEN l.lang_pred <> 'und' THEN 1 ELSE 0 END)::BIGINT AS lang_ok,
               sum(CASE WHEN l.lang_pred <> 'und' AND q.band <> 'drop' THEN 1 ELSE 0 END)::BIGINT AS quality_ok,
               sum(CASE WHEN l.lang_pred <> 'und' AND q.band <> 'drop' AND d.keep THEN 1 ELSE 0 END)::BIGINT AS kept
        FROM lang l JOIN qual q ON l.doc_id = q.doc_id
        JOIN ded d ON d.doc_id = l.doc_id
    """,
    "salted_wordcount": f"""
        SELECT word, count(*) AS n FROM (
            SELECT unnest({_TOKS}) AS word FROM documents
        ) GROUP BY word
    """,
    "stratified_sample": f"""
        WITH rates(lang, rate) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(SAMPLE_RATES.items()))})
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE {DUCK_HEX32.format(x="'smp|' || d.doc_id::VARCHAR")} % 100 < r.rate
    """,
    "mix_sample": f"""
        WITH tgt(lang, share) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(MIX_TARGET.items()))}),
        counts AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
        tot AS (SELECT count(*)::BIGINT AS total FROM documents),
        rates AS (
            SELECT c.lang, c.n_docs,
                   least(100, (tot.total * {MIX_BUDGET_PCT} // 100) * t.share // 100
                              * 100 // c.n_docs)::BIGINT AS rate_pct
            FROM counts c, tot, tgt t WHERE t.lang = c.lang
        ),
        sampled AS (
            SELECT d.lang, count(*)::BIGINT AS n_sampled
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE {DUCK_HEX32.format(x="'mix|' || d.doc_id::VARCHAR")} % 100 < r.rate_pct
            GROUP BY d.lang
        )
        SELECT r.lang, r.n_docs, r.rate_pct,
               coalesce(s.n_sampled, 0)::BIGINT AS n_sampled
        FROM rates r LEFT JOIN sampled s ON s.lang = r.lang
    """,
    "decontam": f"""
        WITH g0 AS (
            SELECT doc_id, unnest(gs) AS g FROM (
                SELECT doc_id, {duck_ngrams(5)} AS gs FROM (
                    SELECT doc_id, {_TOKS} AS toks FROM documents
                )
            )
        ),
        g AS (SELECT DISTINCT doc_id, g FROM g0),
        ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
        hits AS (
            SELECT g.doc_id, count(*) AS n
            FROM g JOIN ev ON g.g = ev.g
            WHERE g.doc_id % 20 <> 0 GROUP BY g.doc_id
        )
        SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS n_contaminated,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.doc_id % 20 <> 0
    """,
    # top_token_frac via plain unnest+group-by max count — same result as
    # the Spark side's sorted-run fold, different (simpler) formulation
    "repetition": f"""
        WITH base AS (
            SELECT doc_id, {_TOKS} AS toks,
                   {duck_ngrams(2, toks=_TOKS)} AS gs
            FROM documents
        ),
        tc AS (
            SELECT doc_id, max(c) AS best FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
                GROUP BY doc_id, tok
            ) GROUP BY doc_id
        )
        SELECT b.doc_id,
               len(b.gs)::BIGINT AS n_2grams,
               CASE WHEN len(b.gs) > 0
                    THEN round((len(b.gs) - len(list_distinct(b.gs))) / len(b.gs), 4)
                    ELSE 0.0 END AS dup_2gram_frac,
               CASE WHEN len(b.toks) > 0
                    THEN round(tc.best / len(b.toks), 4)
                    ELSE 0.0 END AS top_token_frac
        FROM base b LEFT JOIN tc ON tc.doc_id = b.doc_id
    """,
    "pii_scrub": f"""
        SELECT doc_id,
               len(regexp_extract_all(t, '{_PII["email"]}')) AS n_emails,
               len(regexp_extract_all(t, '{_PII["phone"]}')) AS n_phones,
               len(regexp_extract_all(t, '{_PII["ip"]}')) AS n_ips,
               md5(regexp_replace(
                       regexp_replace(
                           regexp_replace(t, '{_PII["email"]}', '[EMAIL]', 'g'),
                           '{_PII["phone"]}', '[PHONE]', 'g'),
                       '{_PII["ip"]}', '[IP]', 'g')) AS scrub_md5
        FROM (
            SELECT doc_id, text
                || CASE WHEN doc_id % 3 = 0
                        THEN ' u' || doc_id::VARCHAR || '@ex'
                             || (doc_id % 7)::VARCHAR || '.org'
                        ELSE '' END
                || CASE WHEN doc_id % 4 = 0
                        THEN ' 555-' || (doc_id % 900 + 100)::VARCHAR || '-'
                             || lpad(((doc_id * 37) % 10000)::VARCHAR, 4, '0')
                        ELSE '' END
                || CASE WHEN doc_id % 5 = 0
                        THEN ' 10.' || (doc_id % 256)::VARCHAR || '.'
                             || ((doc_id * 3) % 256)::VARCHAR || '.'
                             || ((doc_id * 7) % 256)::VARCHAR
                        ELSE '' END AS t
            FROM documents
        )
    """,
    "url_hosts": """
        SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
               count(*) AS n_urls,
               count(DISTINCT doc_id) AS n_docs
        FROM (
            SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[^\\s]+')) AS url
            FROM (
                SELECT doc_id, text
                    || CASE WHEN doc_id % 2 = 0
                            THEN ' http://h' || (doc_id % 5)::VARCHAR
                                 || '.example.com/p/' || doc_id::VARCHAR
                            ELSE '' END
                    || CASE WHEN doc_id % 6 = 0
                            THEN ' https://cdn' || (doc_id % 3)::VARCHAR
                                 || '.example.net/a?b=' || doc_id::VARCHAR
                            ELSE '' END AS t
                FROM documents
            )
        ) GROUP BY host
    """,
}

ORACLES["lm_commonness"] = f"""
    WITH tf AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    v AS (SELECT tok, count(*) AS cnt FROM tf GROUP BY tok)
    SELECT tf.doc_id, count(*)::BIGINT AS n_tokens,
           sum(v.cnt)::BIGINT AS common_sum,
           round(sum(v.cnt)::BIGINT::DOUBLE / count(*), 4) AS mean_freq
    FROM tf JOIN v ON v.tok = tf.tok
    GROUP BY tf.doc_id
"""

ORACLES["tfidf_topk"] = f"""
    WITH base AS (
        SELECT doc_id,
               {", ".join(f"len(list_filter({_TOKS}, x -> x = '{t}')) AS tf_{t}" for t in TFIDF_TERMS)}
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               {", ".join(f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in TFIDF_TERMS)}
        FROM base
    )
    SELECT doc_id, {", ".join(f"tf_{t}" for t in TFIDF_TERMS)},
           ({" + ".join(f"tf_{t} * (n_docs * 1000000 // greatest(df_{t}, 1))" for t in TFIDF_TERMS)})::BIGINT AS score
    FROM base CROSS JOIN stats
    ORDER BY score DESC, doc_id ASC LIMIT {TFIDF_TOPN}
"""

ORACLES["link_graph"] = """
    WITH edges AS (
        SELECT source AS src,
               regexp_extract(url, '^https?://([^/]+)', 1) AS dst,
               count(*) AS n_links,
               count(DISTINCT doc_id) AS n_docs
        FROM (
            SELECT source, doc_id,
                   unnest(regexp_extract_all(t, 'https?://[^\\s]+')) AS url
            FROM (
                SELECT source, doc_id, text
                    || CASE WHEN doc_id % 2 = 0
                            THEN ' http://h' || (doc_id % 5)::VARCHAR
                                 || '.example.com/p/' || doc_id::VARCHAR
                            ELSE '' END
                    || CASE WHEN doc_id % 6 = 0
                            THEN ' https://cdn' || (doc_id % 3)::VARCHAR
                                 || '.example.net/a?b=' || doc_id::VARCHAR
                            ELSE '' END AS t
                FROM documents
            )
        ) GROUP BY src, dst
    ),
    indeg AS (
        SELECT dst, count(DISTINCT src) AS dst_in_degree FROM edges GROUP BY dst
    )
    SELECT e.src, e.dst, e.n_links, e.n_docs, i.dst_in_degree
    FROM edges e JOIN indeg i ON i.dst = e.dst
"""

ORACLES["bloom_semi_join"] = f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, unnest(gs) AS g FROM (
            SELECT doc_id, {duck_ngrams(5)} AS gs FROM (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            )
        )
    ),
    eval_g AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
    ),
    bloom AS (
        SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        FROM (
            SELECT unnest([{DUCK_HEX32.format(x="g")} % {BLOOM_WORDS * 32},
                           {DUCK_HEX32B.format(x="g")} % {BLOOM_WORDS * 32}]) AS p
            FROM eval_g
        ) GROUP BY w
    ),
    train_g AS (
        SELECT doc_id, g,
               {DUCK_HEX32.format(x="g")} % {BLOOM_WORDS * 32} AS p1,
               {DUCK_HEX32B.format(x="g")} % {BLOOM_WORDS * 32} AS p2
        FROM grams WHERE doc_id % 20 <> 0
    ),
    cand AS (
        SELECT t.doc_id, t.g
        FROM train_g t
        JOIN bloom w1 ON w1.w = t.p1 // 32
        JOIN bloom w2 ON w2.w = t.p2 // 32
        WHERE (w1.bits & (1::BIGINT << CAST(t.p1 % 32 AS INT))) <> 0
          AND (w2.bits & (1::BIGINT << CAST(t.p2 % 32 AS INT))) <> 0
    )
    SELECT c.doc_id,
           count(*)::BIGINT AS n_candidate_grams,
           sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_true_grams,
           (count(*) - sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS n_false_pos
    FROM cand c LEFT JOIN eval_g e ON e.g = c.g
    GROUP BY c.doc_id
"""

ORACLES["curation_funnel"] = ORACLES["curation_funnel"].format(
    LANG_SQL=ORACLES["lang_id"],
    QUAL_SQL=ORACLES["quality_score"],
    DED_SQL=ORACLES["dedup_exact"],
)

ORACLES["pagerank"] = _pagerank_oracle_sql()

_CM_H = lambda x: f"({DUCK_HEX32.format(x=x)}) % 256"
_CM_PROBE_VALUES = ",".join(f"('{t}')" for t in CM_PROBES)
ORACLES["heavy_hitters"] = f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    rc AS (
        SELECT 0 AS r, {_CM_H("'cm0|' || tok")} AS c FROM toks
        UNION ALL
        SELECT 1, {_CM_H("'cm1|' || tok")} FROM toks
    ),
    sketch AS (SELECT r, c, count(*) AS cnt FROM rc GROUP BY r, c),
    probes(token) AS (VALUES {_CM_PROBE_VALUES}),
    prc AS (
        SELECT token, 0 AS r, {_CM_H("'cm0|' || token")} AS c FROM probes
        UNION ALL
        SELECT token, 1, {_CM_H("'cm1|' || token")} FROM probes
    ),
    est AS (
        SELECT token, min(coalesce(cnt, 0))::BIGINT AS cm_est
        FROM prc LEFT JOIN sketch USING (r, c) GROUP BY token
    ),
    ex AS (
        SELECT tok AS token, count(*) AS n_exact FROM toks
        WHERE tok IN (SELECT token FROM probes) GROUP BY tok
    )
    SELECT e.token, coalesce(x.n_exact, 0)::BIGINT AS n_exact, e.cm_est,
           e.cm_est >= coalesce(x.n_exact, 0) AS no_undercount
    FROM est e LEFT JOIN ex x USING (token)
"""

# ground truth known analytically from the synthesized block structure
ORACLES["connected_components"] = """
    SELECT doc_id::BIGINT AS doc_id, (doc_id // 8 * 8)::BIGINT AS comp,
           (count(*) OVER (PARTITION BY doc_id // 8))::BIGINT AS comp_size
    FROM documents
"""

_DUP_GH = DUCK_HEX32.format(x="gs")
ORACLES["dup_spans"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id, i AS pos, {_DUP_GH} AS gh
        FROM (
            SELECT doc_id,
                   unnest({duck_ngrams(5)}) AS gs,
                   unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i
            FROM t
        )
    ),
    df AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh),
    fl AS (
        SELECT g.doc_id, g.pos, CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END AS dup
        FROM g JOIN df USING (gh)
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_grams, sum(dup) AS n_dup
        FROM fl GROUP BY doc_id
    ),
    runs AS (
        SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM fl WHERE dup = 1
    ),
    mr AS (
        SELECT doc_id, max(cnt) AS max_run
        FROM (SELECT doc_id, island, count(*) AS cnt FROM runs GROUP BY doc_id, island)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_grams, 0)::BIGINT AS n_grams,
           coalesce(a.n_dup, 0)::BIGINT AS n_dup_grams,
           CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
                ELSE round(a.n_dup / a.n_grams::DOUBLE, 4) END AS dup_frac,
           coalesce(m.max_run, 0)::BIGINT AS max_dup_run
    FROM documents d
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    LEFT JOIN mr m ON m.doc_id = d.doc_id
"""

_WS_U = (
    "((" + DUCK_HEX32.format(x="'ws|' || doc_id::VARCHAR") + ") + 1) / 4294967296.0"
)
ORACLES["weighted_sample"] = f"""
    SELECT doc_id, lang, rank::INT AS rank, round(key, 10) AS sample_key
    FROM (
        SELECT doc_id, lang,
               -ln({_WS_U}) / n_chars AS key,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY -ln({_WS_U}) / n_chars, doc_id
               ) AS rank
        FROM documents
    )
    WHERE rank <= 5
"""

ORACLES["lm_bigram"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    big AS (SELECT doc_id, unnest({duck_ngrams(2)}) AS bg FROM t),
    counts AS (SELECT bg, count(*) AS c2 FROM big GROUP BY bg),
    w1t AS (SELECT bg, c2, string_split(bg, ' ')[1] AS w1 FROM counts),
    denom AS (SELECT w1, sum(c2) AS c1 FROM w1t GROUP BY w1),
    lm AS (
        SELECT bg, floor(1000000.0 * c2 / c1)::BIGINT AS p6
        FROM w1t JOIN denom USING (w1)
    )
    SELECT big.doc_id, count(*)::BIGINT AS n_bigrams,
           floor(sum(p6) / count(*))::BIGINT AS mean_p6
    FROM big JOIN lm USING (bg)
    GROUP BY big.doc_id
"""

ORACLES["postings"] = f"""
    WITH tf AS (
        SELECT DISTINCT unnest({_TOKS}) AS tok, doc_id FROM documents
    )
    SELECT tok, count(*)::BIGINT AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM tf GROUP BY tok
    ORDER BY df DESC, tok ASC LIMIT 20
"""


def _bpe_ctes(n_folds: int) -> tuple[list[str], list[str]]:
    """Shared CTE generator for the BPE oracles: word frequencies once,
    then per round a pair-count aggregate, the deterministic top-1 pair,
    and a list_reduce fold that rewrites every word's symbol list
    (left-to-right non-overlapping merge). ``n_folds`` controls how many
    rounds get the fold applied (the trainer oracle skips the last —
    nothing reads it; the encoder oracle folds every round)."""
    ctes = [f"""w0 AS (
        SELECT w, count(*)::BIGINT AS n,
               list_filter(string_split(w, ''), c -> c <> '') AS syms
        FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w
    )"""]
    selects = []
    for t in range(BPE_MERGES):
        ctes.append(f"""p{t} AS (
            SELECT l, r, c FROM (
                SELECT syms[i] AS l, syms[i + 1] AS r, sum(n)::BIGINT AS c
                FROM (SELECT n, syms, unnest(generate_series(1, len(syms) - 1)) AS i
                      FROM w{t} WHERE len(syms) >= 2)
                GROUP BY 1, 2
            ) ORDER BY c DESC, l ASC, r ASC LIMIT 1
        )""")
        selects.append(
            f"SELECT {t + 1}::BIGINT AS merge_rank, l AS lhs, r AS rhs, "
            f"c AS pair_count FROM p{t}"
        )
        if t < n_folds:
            ctes.append(f"""w{t + 1} AS (
                SELECT w, n,
                       list_reduce(
                           list_prepend([]::VARCHAR[],
                                        list_transform(syms, s -> [s])),
                           (acc, x) -> CASE
                               WHEN len(acc) > 0 AND acc[-1] = p.l AND x[1] = p.r
                               THEN list_append(acc[1:len(acc) - 1], p.l || p.r)
                               ELSE list_concat(acc, x) END
                       ) AS syms
                FROM w{t}, p{t} p
            )""")
    return ctes, selects


def _bpe_oracle_sql() -> str:
    """DuckDB oracle for q_bpe_merges (same unrolled rounds)."""
    ctes, selects = _bpe_ctes(BPE_MERGES - 1)
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects) + "\nORDER BY merge_rank")


def _bpe_encode_oracle_sql() -> str:
    """DuckDB oracle for q_bpe_encode: learn the same merges (all folds
    applied), then encode every document against the final vocabulary."""
    ctes, _ = _bpe_ctes(BPE_MERGES)
    ctes.append(f"""tf AS (
        SELECT doc_id, unnest(toks) AS w,
               unnest(generate_series(1, len(toks))) AS pos
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )""")
    ctes.append(f"""enc AS (
        SELECT w, len(syms)::BIGINT AS n_sub,
               array_to_string(syms, ' ') AS piece_str
        FROM w{BPE_MERGES}
    )""")
    return ("WITH " + ",\n".join(ctes) + """
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(n_sub)::BIGINT AS n_pieces,
           sum(n_sub)::DOUBLE / count(*) AS pieces_per_token,
           md5(string_agg(piece_str, ' ' ORDER BY pos)) AS stream_md5
    FROM tf JOIN enc USING (w)
    GROUP BY doc_id
    """)


QUERIES["bpe_merges"] = q_bpe_merges
ORACLES["bpe_merges"] = _bpe_oracle_sql()
QUERIES["bpe_encode"] = q_bpe_encode
ORACLES["bpe_encode"] = _bpe_encode_oracle_sql()


BM25_TOPN = 20


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval for the fixed TFIDF_TERMS query, in exact rational
    arithmetic: with k1 = 6/5 and b = 3/4 the per-term score
    ``idf * tf(k1+1) / (tf + k1(1-b+b*dl/avgdl))`` clears to
    ``idf_fp * 44*tf*S / (20*tf*S + 6*S + 18*dl*N)`` where S = Σdl —
    numerator and denominator are exact int64 (each < 2^53 so the two
    IEEE ops per term are bit-deterministic in both engines), and idf is
    the integer-scaled rational ``(N*1e6) div (df+1)`` (the classic
    log-idf is swapped for a fixed-point rational so no libm call can
    diverge between engines; same ranking monotonicity). Plan shape is
    the tfidf_topk one — map-side tf expressions, ONE single-row
    corpus-stats aggregate broadcast back, TakeOrderedAndProject top-k;
    no explode, no per-term shuffle. The 100 TB story: one scan + one
    tiny agg + one top-k."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))

    def tf(term):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[tf(t).cast("long").alias(f"tf_{t}") for t in TFIDF_TERMS],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in TFIDF_TERMS
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    score = None
    for t in TFIDF_TERMS:
        idf = F.expr(f"n_docs * 1000000L div (df_{t} + 1L)")
        num = (F.lit(44) * F.col(f"tf_{t}") * F.col("sum_dl")).cast("double")
        den = (
            F.lit(20) * F.col(f"tf_{t}") * F.col("sum_dl")
            + F.lit(6) * F.col("sum_dl")
            + F.lit(18) * F.col("dl") * F.col("n_docs")
        ).cast("double")
        term = idf.cast("double") * num / den
        score = term if score is None else score + term
    return (
        j.select(
            "doc_id", "dl",
            *[f"tf_{t}" for t in TFIDF_TERMS],
            F.round(score, 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOPN)
    )


QUERIES["bm25_topk"] = q_bm25_topk

ORACLES["bm25_topk"] = f"""
    WITH base AS (
        SELECT doc_id, len({_TOKS})::BIGINT AS dl,
               {", ".join(f"len(list_filter({_TOKS}, x -> x = '{t}'))::BIGINT AS tf_{t}" for t in TFIDF_TERMS)}
        FROM documents
    ),
    stats AS (
        SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
               {", ".join(f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{t}" for t in TFIDF_TERMS)}
        FROM base
    )
    SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in TFIDF_TERMS)},
           round(
               {" + ".join(
                   f"((n_docs * 1000000 // (df_{t} + 1))::DOUBLE"
                   f" * (44 * tf_{t} * sum_dl)::DOUBLE"
                   f" / (20 * tf_{t} * sum_dl + 6 * sum_dl + 18 * dl * n_docs)::DOUBLE)"
                   for t in TFIDF_TERMS)},
               4) AS score
    FROM base, stats
    ORDER BY {" + ".join(
        f"((n_docs * 1000000 // (df_{t} + 1))::DOUBLE"
        f" * (44 * tf_{t} * sum_dl)::DOUBLE"
        f" / (20 * tf_{t} * sum_dl + 6 * sum_dl + 18 * dl * n_docs)::DOUBLE)"
        for t in TFIDF_TERMS)} DESC, doc_id ASC
    LIMIT {BM25_TOPN}
"""


QC_BUCKETS = 64          # hashed feature space (2^21 in production)
QC_BIAS = -1200          # fixed intercept, integer


def _qc_weight(bucket):
    """Deterministic per-bucket weight in [-500, 500] — a Knuth
    multiplicative scramble of the bucket id. Production loads trained
    fastText/logreg weights as a broadcast array indexed by the same
    hashed bucket; a closed-form weight keeps the oracle able to
    recompute the model without a side-channel weights file. int64
    throughout (max |b*2654435761| ≈ 1.7e11 — no overflow)."""
    return (bucket * F.lit(2654435761).cast("long")) % 1001 - 500


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the CCNet/GPT-3-style hashed
    linear classifier, as inference over the corpus: each token hashes
    into QC_BUCKETS feature buckets (hashing trick — Weinberger et al.
    2009), the document score is the integer sum of bucket weights plus
    a bias, and keep = score > 0. Pure map-side: one `transform` +
    `aggregate` fold per row (no explode, no shuffle except the display
    sort), int64-exact so Spark and the oracle agree bit-for-bit. At
    100 TB this is the classifier-filter stage of a curation funnel:
    embarrassingly parallel, weights broadcast once per executor, and
    the same shape serves any linear model (quality, toxicity,
    language) by swapping the weight array. Complements the heuristic
    `quality_score` (rule-based) with the learned-model path the
    reference-scale pipelines actually deploy."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    w = lambda t: _qc_weight(hex32(t) % QC_BUCKETS)
    score = F.aggregate(
        F.transform(toks, w),
        F.lit(QC_BIAS).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_toks"),
            score.alias("score"),
        )
        .withColumn("keep", F.col("score") > 0)
    )


_QC_W = (
    f"(((({DUCK_HEX32.format(x='t')}) % {QC_BUCKETS}) * 2654435761) "
    f"% 1001 - 500)"
)

QUERIES["quality_classifier"] = q_quality_classifier

ORACLES["quality_classifier"] = f"""
    WITH s AS (
        SELECT doc_id,
               {DUCK_TOKENS.format(x="text")} AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks)::BIGINT AS n_toks,
           ({QC_BIAS} + coalesce(
               list_sum(list_transform(toks, t -> {_QC_W})), 0
           ))::BIGINT AS score,
           ({QC_BIAS} + coalesce(
               list_sum(list_transform(toks, t -> {_QC_W})), 0
           )) > 0 AS keep
    FROM s
"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a POSITIONAL inverted index — the
    retrieval operator BM25/postings can't express (bag-of-words loses
    adjacency). The phrase is the corpus's own most frequent bigram
    (count desc, lexicographic tie-break), so the query is fully
    self-contained and the oracle recomputes it. Plan: (1) one bigram
    count pass → a ONE-ROW phrase table, broadcast; (2) the positional
    token index is filtered to the two phrase words via that broadcast —
    at 100 TB this is the point: the candidate postings shrink to
    df(w1)+df(w2) rows BEFORE any join; (3) adjacency = equi-join on
    (doc_id, pos+1 = pos), i.e. a keyed join between two word-sized
    posting lists, never a self-join of the full index. Positions are
    1-based to match the SQL side."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    tf = d.select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    top = (
        d.select(F.explode(ngrams(F.col("text"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bg"))
        .limit(1)
        .select(
            F.col("bg").alias("phrase"),
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            F.split(F.col("bg"), " ").getItem(1).alias("w2"),
        )
    )
    a = tf.join(F.broadcast(top), tf.tok == F.col("w1")).select(
        "doc_id", F.col("pos").alias("p1"), "phrase"
    )
    b = tf.join(F.broadcast(top.select("w2")), tf.tok == F.col("w2")).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("p2")
    )
    m = a.join(
        b, (a.doc_id == b.doc_b) & (b.p2 == a.p1 + 1)
    )
    return m.groupBy("doc_id", "phrase").agg(
        F.count("*").alias("hits"), F.min("p1").alias("first_pos")
    )


QUERIES["phrase_search"] = q_phrase_search

_PS_TOKS = DUCK_TOKENS.format(x="text")

ORACLES["phrase_search"] = f"""
    WITH s AS (
        SELECT doc_id, {_PS_TOKS} AS toks FROM documents
    ),
    pos AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS i
        FROM s
    ),
    tf AS (SELECT doc_id, i AS pos, toks[i] AS tok FROM pos),
    bg AS (
        SELECT toks[i] || ' ' || toks[i + 1] AS bg
        FROM pos WHERE i < len(toks)
    ),
    top AS (
        SELECT bg AS phrase,
               string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2
        FROM bg GROUP BY bg
        ORDER BY count(*) DESC, bg ASC LIMIT 1
    )
    SELECT a.doc_id, top.phrase,
           count(*)::BIGINT AS hits, min(a.pos)::BIGINT AS first_pos
    FROM tf a
    JOIN top ON a.tok = top.w1
    JOIN tf b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            AND b.tok = top.w2
    GROUP BY a.doc_id, top.phrase
"""
