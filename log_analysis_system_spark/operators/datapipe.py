"""Training-data pipeline stage operators.

The ops a large-scale LLM-corpus build needs beyond per-doc scoring:
PII redaction, repetition (boilerplate) stats, deterministic sequence
packing, per-class embedding centroids, and the composed keep/drop corpus
filter (quality rules + near-dup canonicalization).

Scale notes per operator are on the docstrings; the common rules hold:
built-in JVM expressions only (no Python UDFs), aggregations partial-agg
map-side, the one driver-side collect (``sequence_pack`` partition totals)
is O(num_partitions) rows, never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.texthash import md5_hash60, tokens
from ..sources.dims import local_frame
from . import dedup as dd
from .textstats import quality_scores

# (name, pattern, replacement) — applied in order; the count columns are
# computed on the ORIGINAL text per pattern (overlaps between categories
# count in each). Patterns restricted to syntax shared by Java regex
# (Spark) and RE2 (DuckDB) so the oracle reproduces them verbatim.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("secret", r"\b[0-9a-f]{16,}\b", "<SECRET>"),
]

SEQ_LEN = 512


def pii_redaction(transcripts: DataFrame) -> DataFrame:
    """Per-turn PII scrub: replace email / IPv4 / long-hex-secret spans
    with typed placeholders; emit per-category match counts.

    Single scan, all codegen (``regexp_extract_all`` + chained
    ``regexp_replace``) — the 100 TB shape is embarrassingly parallel with
    zero shuffle.
    """
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = F.col("text")
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return transcripts.select(
        "conv_id", "turn_idx", *counts, red.alias("redacted")
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_bigram_ratio``: 1 - distinct/total word bigrams (0.0 when the
      doc has < 2 tokens) — boilerplate and looped generations score high;
    - ``top_token_share``: occurrences of the most frequent token / all
      tokens — degenerate repetition scores near 1.

    Bigram stats are a pure projection; the token mode needs a
    (doc_id, token) groupBy — partial-aggregated map-side, keyed by doc_id
    so hot *tokens* never concentrate (the skew unit is a document).
    """
    base = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    # non-distinct bigrams (repetition is the signal — array_distinct here
    # would erase it); token array materialized in its own projection first
    # (HOFs inline their argument subtree — see texthash.shingles_from_tokens)
    bg = F.when(
        F.size(F.col("t")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("t")) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bstats = base.select(
        "doc_id",
        F.size(F.col("t")).alias("n_tokens"),
        F.when(
            F.size(bg) > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(bg)) / F.size(bg), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )
    counts = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    top = counts.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_token_share")
    )
    return bstats.join(top, "doc_id")


def sequence_pack(
    docs: DataFrame, seq_len: int = SEQ_LEN, num_parts: int | None = None
) -> DataFrame:
    """Deterministic sequence packing: concatenate documents in doc_id
    order and map each to its global token span — ``start_offset`` /
    ``end_offset`` and the first/last training sequence (of ``seq_len``
    tokens) it lands in.

    Distributed prefix sum, the scale-correct shape (a bare
    ``Window.orderBy`` with no partition key would serialize the corpus
    through ONE task):

    1. range-repartition by doc_id (contiguous ascending key ranges per
       partition, ascending partition ids);
    2. per-partition running sum (window keyed on the partition id);
    3. collect the per-partition TOTALS — O(num_partitions) longs, never
       data — prefix-sum them on the driver, broadcast-join the offsets
       back.

    The lazy localCheckpoint pins the partition assignment so steps 2 and
    3 read the same materialization (and the shingle frames in dedup use
    the same policy for the same reason).
    """
    spark = docs.sparkSession
    n = num_parts or spark.sparkContext.defaultParallelism
    sized = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    ranged = (
        sized.repartitionByRange(n, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("local_cum", F.sum("n_tokens").over(w))
    totals = ranged.groupBy("pid").agg(F.sum("n_tokens").alias("part_total"))
    acc = 0
    offsets = []
    for row in sorted(totals.collect(), key=lambda r: r["pid"]):
        offsets.append((row["pid"], acc))
        acc += row["part_total"]
    off_df = local_frame(spark, offsets, "pid int, part_offset long")
    start = F.col("part_offset") + F.col("local_cum") - F.col("n_tokens")
    end = F.col("part_offset") + F.col("local_cum")
    return (
        local.join(F.broadcast(off_df), "pid")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            end.alias("end_offset"),
        )
        # integer `div`, not double division: a truncated double quotient
        # can misfloor at sequence boundaries once offsets approach 2^53
        # (the 10^12-doc design point); `div` keeps both engines in exact
        # 64-bit integer arithmetic. n_tokens >= 1 always: a single-space
        # split of any string (even '') yields at least one element, in
        # Spark and DuckDB.
        .select(
            "*",
            F.expr(f"start_offset div {int(seq_len)}").alias("seq_first"),
            F.expr(f"(end_offset - 1) div {int(seq_len)}").alias("seq_last"),
        )
    )


def embedding_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid, long format: (label, dim) -> mean component.

    posexplode + groupBy(label, dim): the map side partial-aggregates each
    (label, dim) cell, so the shuffle carries |labels| x dim partial sums
    per task — never vectors. Output rounded to 6 dp (full-precision float
    inputs: summation-order noise is ~1e-13 relative, far inside the
    rounding guard band).
    """
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


# per-language keep percentages for the stratified eval sample: downsample
# the dominant language, keep half of the long-tail ones
SAMPLE_PCT: dict[str, int] = {"en": 10, "de": 50, "es": 50, "fr": 50}
SAMPLE_DEFAULT_PCT = 25


def stratified_sample(
    docs: DataFrame, pct_by_lang: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic per-stratum (language) sampling: keep a doc when its
    md5-bucket falls under the stratum's percentage.

    Hash-of-key sampling, not ``sample()``/``sampleBy()``: reproducible
    across runs, engines, and incremental corpus growth (a doc's keep
    decision never changes when other docs arrive) — the property an eval
    holdout must have at 10^12 docs. Pure projection + filter, zero
    shuffle; the rate map rides into codegen as a CASE literal.
    """
    pct = pct_by_lang or SAMPLE_PCT
    bucket = md5_hash60(F.col("doc_id").cast("string")) % 100
    rate = F.lit(SAMPLE_DEFAULT_PCT)
    for lang, p in sorted(pct.items()):
        rate = F.when(F.col("lang") == lang, F.lit(p)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", "source", bucket.alias("bucket"), rate.alias("keep_pct"))
        .where(F.col("bucket") < F.col("keep_pct"))
    )


def embedding_centroid_distance(emb: DataFrame) -> DataFrame:
    """Per-vector cosine to its label's centroid — the embedding-space
    outlier signal a curation pipeline uses to catch mislabeled /
    off-distribution examples.

    Shape: centroids come from the (label, dim) partial-agg mean (see
    :func:`embedding_centroids`), re-assembled into one array per label
    (``collect_list`` bounded by the DIMENSION count, never row count),
    then broadcast-joined back — the corpus side neither shuffles nor
    collects. Cosine uses the same sequential zip_with/aggregate dot
    product as the dedup operators (fixed order -> cross-engine stable);
    output rounded to 6 dp, no discrete threshold flag (a tie at a cut
    would be partition-order luck).
    """
    v = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cells = (
        v.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.avg("val").alias("c"))
    )
    cent = (
        cells.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("ce")
        )
    )
    j = v.join(F.broadcast(cent), "label")
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("ce"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return j.select(
        "vec_id",
        "label",
        # try_divide: a zero-norm vector (or all-zero label centroid) gets
        # NULL cos_centroid on both engines (DuckDB x/0 is NULL) — cosine
        # is undefined there, and downstream outlier cuts skip NULLs
        F.round(
            F.try_divide(dot, norm(F.col("v")) * norm(F.col("ce"))), 6
        ).alias("cos_centroid"),
    )


def corpus_filter(docs: DataFrame) -> DataFrame:
    """The composed keep/drop decision a corpus build actually applies:
    quality rules (textstats.quality_scores ``keep``) AND near-dup
    canonicalization (dedup_components: only each component's canonical
    doc survives). ``reason`` explains every drop — 'low_quality' wins
    when both apply.

    Both inputs are doc_id-keyed frames; the join shuffles on doc_id
    (or co-partitions for free if the corpus is bucketed by doc_id).
    """
    q = quality_scores(docs).select("doc_id", "keep")
    comp = dd.dedup_components(docs)
    is_canonical = F.col("canonical_id") == F.col("doc_id")
    return (
        q.join(comp, "doc_id")
        .select(
            "doc_id",
            (F.col("keep") & is_canonical).alias("kept"),
            F.when(~F.col("keep"), F.lit("low_quality"))
            .when(~is_canonical, F.lit("duplicate"))
            .alias("reason"),
        )
    )


QUANT_BITS = 8


def embedding_quantization(emb: DataFrame, bits: int = QUANT_BITS) -> DataFrame:
    """Scalar (per-dimension min-max) quantization of the embedding column
    to 2^bits levels, with per-vector reconstruction error — the
    compression step a 10^12-vector ANN store applies before indexing
    (int8 SQ cuts vector bytes 4x; recall is then re-verified against
    dequantized values).

    Scale shape: the per-dim lo/hi range is a posexplode partial-agg (the
    shuffle carries dim-count cells per task, never vectors); the
    dim-ordered range arrays assemble via array_sort(collect_list(struct))
    on the DIM-BOUNDED aggregate (the bounded-collect pattern of
    embedding_centroid_distance) and broadcast; quantize / dequantize /
    error are row-local HOF arithmetic. Cross-engine determinism:
    half-up rounding is spelled floor(x + 0.5) on BOTH engines (no
    reliance on round()'s tie mode), per-element ops run in DOUBLE
    (IEEE-identical), and the 9-dp rounds sit ~12 orders of magnitude
    above the fold-order noise floor.
    """
    levels = float(2**bits - 1)
    ex = emb.select(F.posexplode("embedding").alias("dim", "val"))
    rng = ex.groupBy("dim").agg(
        F.min(F.col("val").cast("double")).alias("lo"),
        F.max(F.col("val").cast("double")).alias("hi"),
    )
    packed = (
        rng.agg(
            F.array_sort(F.collect_list(F.struct("dim", "lo", "hi"))).alias("r")
        ).select(
            F.transform("r", lambda s: s["lo"]).alias("los"),
            F.transform("r", lambda s: s["hi"]).alias("his"),
        )
    )

    def _err(i):
        v = F.element_at(F.col("embedding"), i).cast("double")
        lo = F.element_at(F.col("los"), i)
        hi = F.element_at(F.col("his"), i)
        q = F.when(
            hi > lo,
            F.floor((v - lo) * F.lit(levels) / (hi - lo) + F.lit(0.5)).cast(
                "double"
            ),
        ).otherwise(F.lit(0.0))
        dq = lo + q * (hi - lo) / F.lit(levels)
        return v - dq

    errs_col = F.transform(F.sequence(F.lit(1), F.size("embedding")), _err)
    joined = emb.crossJoin(F.broadcast(packed)).select(
        "vec_id", F.size("embedding").alias("n"), errs_col.alias("e")
    )
    return joined.select(
        "vec_id",
        F.round(
            F.aggregate(
                "e", F.lit(0.0), lambda acc, x: acc + x * x
            )
            / F.col("n"),
            9,
        ).alias("mse"),
        F.round(F.array_max(F.transform("e", F.abs)), 9).alias("max_abs_err"),
    )


# deterministic two-snapshot derivation for the CDC diff: the old snapshot
# misses every 7th doc (later "added"), the new one drops every 5th
# ("removed") and rewrites every 11th's text ("changed")
SNAP_ADD_MOD = 7
SNAP_DROP_MOD = 5
SNAP_EDIT_MOD = 11


def snapshot_versions(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive (old, new) corpus snapshots deterministically from one
    documents table — the test/bench stand-in for two Iceberg snapshots of
    an evolving corpus."""
    old = docs.where(F.col("doc_id") % SNAP_ADD_MOD != 0).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % SNAP_DROP_MOD != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % SNAP_EDIT_MOD == 0, F.reverse(F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return old, new


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """CDC table diff: classify every key across two corpus snapshots as
    added / removed / changed by comparing content fingerprints — the
    incremental-ingest planning step (what must re-enter dedup/scoring?)
    that beats re-processing 100 TB after a 0.1% delta.

    Scale: each side reduces to ``(key, md5)`` BEFORE the full-outer join,
    so the shuffle carries 8-byte keys + 32-byte hashes, never document
    payloads; unchanged keys (the overwhelming majority) are filtered
    immediately after the join, so downstream operators see only the delta.
    """
    # side-presence markers, NOT hash nullability: md5(NULL text) is NULL,
    # so a null-payload row present on both sides must read "unchanged",
    # not "added" — presence and content are independent signals here
    o = old.select(
        "doc_id", F.md5("text").alias("h_old"), F.lit(True).alias("in_old")
    )
    n = new.select(
        "doc_id", F.md5("text").alias("h_new"), F.lit(True).alias("in_new")
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        # null-safe: NULL->NULL is unchanged, NULL<->hash is changed
        .when(~F.col("h_old").eqNullSafe(F.col("h_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select("doc_id", status.alias("status"))
        .where(F.col("status") != "unchanged")
    )


CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap between adjacent chunks


def chunk_documents(
    docs: DataFrame, chunk_size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """RAG-style document chunking: split each document into
    ``chunk_size``-token windows every ``stride`` tokens (so adjacent
    chunks overlap by ``chunk_size - stride``), emitting one row per
    chunk with its 0-based ``chunk_idx``, re-joined text, and exact token
    count (the trailing chunk may be short).

    Covers the reference's per-line record explosion pattern
    (``main.py:113-145`` turns one file into many rows) re-expressed for
    corpus prep: one document -> many retrieval units.

    Scale shape: pure projection + generator — tokenize once per document,
    ``posexplode`` over the (1, 1+stride, 1+2*stride, ...) start sequence,
    and ``slice`` each chunk out of the SAME materialized token array.
    Zero shuffle, zero UDFs, embarrassingly parallel; output fan-out is
    ~n_tokens/stride rows per document, each bounded by ``chunk_size``
    tokens, so no task ever holds more than one document's array. The
    start sequence is capped by ``greatest(size - (chunk_size - stride),
    1)`` so AT MOST ONE chunk reaches the document's end: a start within
    ``chunk_size - stride`` of an already-end-reaching chunk would emit a
    window fully contained in its predecessor (a duplicate retrieval
    unit), so those trailing starts are dropped. Coverage is preserved —
    the last surviving start ``s`` satisfies ``s > cap - stride =
    size - chunk_size``, i.e. ``s + chunk_size - 1 >= size``. The
    ``greatest(..., 1)`` floor keeps one chunk row even for an empty-text
    doc ('' splits to one empty token in both engines).
    """
    if not (0 < stride <= chunk_size):
        raise ValueError(f"need 0 < stride <= chunk_size, got {stride}/{chunk_size}")
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("toks") - (chunk_size - stride), F.lit(1)),
        F.lit(stride),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), chunk_size)
    return (
        base.select(
            "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start")
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_chunk_tokens"),
        )
    )


TOKEN_BUDGET = 1000


def token_budget_sample(docs: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """Greedy per-source token-budget selection: inside each ``source``,
    order documents by a deterministic pseudo-random priority (the 60-bit
    md5 of the text, tie-broken by doc_id) and keep documents while the
    running token total stays within ``budget``.

    The mixture-building primitive a pretraining corpus needs between
    scoring and packing: "take at most N tokens from each source,
    uniformly at random but reproducibly". The md5 priority is a seeded
    shuffle both engines compute identically (no rand()), so the selected
    set is stable across runs, engines, and corpus repartitioning — the
    same determinism policy as ``stratified_sample``'s md5-bucket keeps.

    Output: the kept rows only — ``(doc_id, source, n_tokens,
    cum_tokens)`` with ``cum_tokens`` the inclusive running total in
    priority order (every kept row has ``cum_tokens <= budget``).

    Scale shape (100 TB): one hash-partition shuffle on ``source`` + a
    per-source ordered window sum — sources are the parallel unit, and the
    per-source sequential pass is inherent to greedy budgeting (the keep
    decision for a doc depends on every higher-priority doc in its
    source). A corpus whose source cardinality is tiny relative to
    cluster cores should pre-split hot sources (the salting pattern in
    ``relational.salted_turn_counts``); budgets then apply per split.
    Only (doc_id, source, n_tokens, pri) ever shuffles — 4 scalar
    columns, never text.
    """
    # null-text rows are excluded from budget selection (pinned contract:
    # no measurable tokens -> no budget claim; without the filter Spark's
    # NULLS FIRST vs DuckDB's NULLS LAST default sort order would also put
    # the null-priority rows at opposite ends of the greedy scan)
    sized = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        md5_hash60(F.col("text")).alias("pri"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.select(
            "doc_id",
            "source",
            "n_tokens",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        )
        .where(F.col("cum_tokens") <= budget)
    )


N_SHARDS = 8


def corpus_shards(docs: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """Training-shard plan: a deterministic global shuffle of the corpus
    into ``n_shards`` shards with a within-shard write order — the layout
    step between curation and the training-file writer (every LLM data
    pipeline ends with "randomize the corpus, split it into N files, and
    remember the order for reproducibility").

    Shard assignment is ``md5_hash60(doc_id) % n_shards`` (a seeded
    permutation both engines compute identically — no ``rand()``, stable
    under corpus repartitioning, same policy as ``stratified_sample``);
    ``position`` is the 1-based rank within the shard by (hash, doc_id).
    Also emits the shard-relative inclusive token prefix sum
    ``cum_tokens`` so the writer can cut size-bounded files without a
    second pass.

    Output: ``(doc_id, shard_id, position, n_tokens, cum_tokens)``.

    Scale shape (100 TB): NO global sort — the only shuffle is the hash
    partition on ``shard_id``, and the per-shard rank/prefix-sum window
    sorts shards independently (corpus/n_shards rows each). Raise
    ``n_shards`` with the corpus (production runs use thousands of
    shards), and the sort stays executor-local. Only 3 scalar columns
    shuffle, never text.
    """
    h = md5_hash60(F.col("doc_id").cast("string"))
    sized = docs.select(
        "doc_id",
        (h % n_shards).cast("int").alias("shard_id"),
        h.alias("pri"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    w = Window.partitionBy("shard_id").orderBy("pri", "doc_id")
    return sized.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).alias("position"),
        "n_tokens",
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum_tokens"),
    )


SOURCE_CAP = 10


def source_cap_sample(docs: DataFrame, cap: int = SOURCE_CAP) -> DataFrame:
    """Per-source frequency cap (domain balancing): keep at most ``cap``
    documents from every ``source``, chosen by a deterministic
    pseudo-random priority — the web-curation rule RefinedWeb/Dolma apply
    per URL-domain so that a handful of mega-domains can't dominate the
    mixture (reference analog: the suspicious-IP frequency thresholds in
    ``analyzer.py`` are the same "cap the heavy hitter" shape, applied
    here at corpus scale).

    Priority is ``md5_hash60(text)`` tie-broken by ``doc_id`` — a seeded
    shuffle both engines compute identically (no ``rand()``; same policy
    as :func:`token_budget_sample`, which budgets by tokens where this
    caps by row count). NULLS LAST is pinned on the priority so a NULL
    text sorts identically cross-engine.

    Output: kept rows only — ``(doc_id, source, keep_rank,
    n_source_docs)`` with ``keep_rank <= cap`` and ``n_source_docs`` the
    PRE-cap size of the doc's source (so downstream reporting can tell
    capped sources from small ones without a second scan).

    Scale shape (100 TB): one hash-partition shuffle on ``source``; both
    window passes (rank + partition count) share it. Only (doc_id,
    source, pri) shuffles — never text. A mega-source whose row count
    breaks the per-partition sort should be pre-split with the salting
    pattern (``relational.salted_turn_counts``) and capped per split.
    """
    sized = docs.select(
        "doc_id", "source", md5_hash60(F.col("text")).alias("pri")
    )
    order = Window.partitionBy("source").orderBy(
        F.col("pri").asc_nulls_last(), "doc_id"
    )
    whole = Window.partitionBy("source")
    return (
        sized.select(
            "doc_id",
            "source",
            F.row_number().over(order).alias("keep_rank"),
            F.count("*").over(whole).cast("bigint").alias("n_source_docs"),
        )
        .where(F.col("keep_rank") <= cap)
    )


DSIR_SAMPLE_N = 100


def dsir_sample(docs: DataFrame, n: int = DSIR_SAMPLE_N) -> DataFrame:
    """DSIR importance RESAMPLING realized: draw ``n`` documents without
    replacement with probability proportional to their importance weight,
    via the Efraimidis–Spirakis exponential-key construction (Inf. Proc.
    Letters 97(5), 2006) — the selection step that turns
    :func:`~..operators.textstats.dsir_weights` scores into an actual
    training subset (Xie et al. 2023 §2.2 "resample k documents").

    Key construction: weight ``w = exp(dsir_logweight / n_tokens)`` (the
    per-token mean log-ratio — length-debiased, and bounded by the bucket
    log-ratio range so ``exp`` can't overflow on long documents), uniform
    draw ``u = (md5_hash60(doc_id)+1) / 2^60`` (deterministic, exact
    IEEE division of an exact integer — no ``rand()``), and the E-S key
    in log space ``es_key = ln(u) / w``; the ``n`` LARGEST keys win.
    ``round(·, 6) + 0`` pins the cross-engine float contract (the ``+ 0``
    collapses ``-0.0`` to ``0.0`` on both engines); ties at the cutoff
    break by doc_id on both.

    Output: the selected rows — ``(doc_id, n_tokens, dsir_logweight,
    es_key)``.

    Scale shape (100 TB): the weights frame is :func:`dsir_weights`'s
    one-scan/broadcast shape; selection is ``orderBy(...).limit(n)`` =
    Spark's distributed TakeOrdered (per-partition top-n, then an O(n)
    driver merge) — NO global sort materializes.
    """
    from .textstats import dsir_weights

    w = dsir_weights(docs)
    u = (md5_hash60(F.col("doc_id").cast("string")) + 1).cast(
        "double"
    ) / float(2**60)
    es_key = (
        F.round(
            F.log(u)
            / F.exp(F.col("dsir_logweight") / F.col("n_tokens")),
            6,
        )
        + F.lit(0.0)
    ).alias("es_key")
    return (
        w.select("doc_id", "n_tokens", "dsir_logweight", es_key)
        .orderBy(F.col("es_key").desc_nulls_last(), "doc_id")
        .limit(n)
    )
