"""Corpus-level compositions for a training-data pipeline: the
one-call cleaning pass (quality gate → exact dedup → near-dup
removal, with an auditable per-doc verdict) and deterministic
hash-based stratified sampling.

Both are compositions of oracle-checked primitives and are themselves
value-checked end-to-end against DuckDB twins — the composition
ORDER is part of the contract (near-dup pairs are computed only among
quality-passing exact-canonical docs, mirroring how production
pipelines stage these filters to keep the pairwise step small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import minhash_lsh_pairs
from .textstats import with_fingerprint, with_quality_score


def clean_corpus(df: DataFrame, id_col: str = "doc_id",
                 col: str = "text", min_quality: float = 0.25,
                 max_bucket: int = 64,
                 transitive: bool = False) -> DataFrame:
    """Per-document keep/drop verdict with an audit ``reason``:

    1. ``quality``   — quality_score < min_quality (textstats rule);
    2. ``exact_dup`` — not the min-id canonical of its fingerprint
                       (among quality-passing docs);
    3. ``near_dup``  — default (``transitive=False``): appears as
                       doc_b of any MinHash-LSH candidate pair among
                       surviving docs (greedy keep-smallest:
                       deterministic, single-pass; a doc near an
                       already-dropped doc is still dropped, the
                       conservative direction for training data).
                       ``transitive=True``: non-canonical member of a
                       connected component over the pair graph
                       (operators/graph.py) — true transitive closure,
                       exactly one kept doc per duplicate cluster, at
                       the cost of the iterative CC rounds;
    4. ``kept``      — everything else.

    Returns (id, keep, reason) for EVERY input doc — the drop set is
    auditable, never silent. Scale shape: the quality gate is a
    narrow map; fingerprint dedup is one hash agg; the pairwise stage
    runs only on quality-passing canonicals (bucket-capped LSH); the
    verdict joins are on the id key."""
    base = with_fingerprint(
        with_quality_score(df.select(id_col, col), col), col) \
        .select(id_col, col, "quality_score", "fingerprint")
    qpass = base.filter(F.col("quality_score") >= min_quality)
    canon = qpass.groupBy("fingerprint").agg(
        F.min(id_col).alias("_canon"))
    pass2 = (qpass.join(canon, "fingerprint")
             .filter(F.col(id_col) == F.col("_canon"))
             .select(id_col, col))
    pairs = minhash_lsh_pairs(pass2, id_col=id_col, col=col,
                              max_bucket=max_bucket)
    if transitive:
        from .graph import dedup_clusters
        dropped = (dedup_clusters(pairs)
                   .filter(~F.col("is_canonical"))
                   .select(F.col("doc_id").alias(id_col))
                   .withColumn("_nd", F.lit(1)))
    else:
        dropped = (pairs.select(F.col("doc_b").alias(id_col)).distinct()
                   .withColumn("_nd", F.lit(1)))
    reason = (F.when(F.col("quality_score") < min_quality,
                     F.lit("quality"))
              .when(F.col(id_col) != F.col("_canon"),
                    F.lit("exact_dup"))
              .when(F.col("_nd").isNotNull(), F.lit("near_dup"))
              .otherwise(F.lit("kept")))
    return (base
            .join(canon, "fingerprint", "left")
            .join(dropped, id_col, "left")
            .withColumn("reason", reason)
            .select(id_col,
                    (F.col("reason") == "kept").alias("keep"),
                    "reason"))


def hash_sample(df: DataFrame, strata_col: str,
                fractions: dict[str, float], id_col: str = "doc_id",
                seed: int = 42) -> DataFrame:
    """Deterministic per-stratum sampling: a row is kept iff
    u(id) < fraction(stratum), where u(id) = the first 60 bits of
    md5(seed || ':' || id) scaled to [0, 1). No RNG state — the same
    row is kept on every run, every partitioning, every resume (the
    property rand()-based sampleBy lacks), and the draw is mirrored
    bit-for-bit in DuckDB so sampling is value-checked. Strata absent
    from ``fractions`` are dropped (fraction 0)."""
    m = F.create_map(*[F.lit(x) for kv in fractions.items()
                       for x in kv])
    u = (F.conv(F.substring(
            F.md5(F.encode(F.concat(F.lit(f"{seed}:"),
                                    F.col(id_col).cast("string")),
                           "UTF-8")), 1, 15), 16, 10)
         .cast("double") / F.lit(float(16 ** 15)))
    frac = F.coalesce(m[F.col(strata_col)], F.lit(0.0))
    return df.filter(u < frac)


def temperature_mix(df: DataFrame, domain_col: str,
                    budget_tokens: int, tau: float = 0.5,
                    id_col: str = "doc_id", col: str = "text",
                    seed: int = 42) -> DataFrame:
    """Temperature-flattened mixture resampling — ``mix_domains``
    with the shares DERIVED from the data instead of hand-set (the
    mT5/XLM-R multilingual practice, public):

        share(d) ∝ tokens(d)^tau,   rate(d) = min(1, budget·share/tokens)

    τ = 1 reproduces the natural distribution, τ → 0 approaches
    uniform across domains; τ ≈ 0.3–0.7 is the usual band that keeps
    head domains from drowning the tail without overrepeating tiny
    ones. Same deterministic md5 accept draw and same scale shape as
    ``mix_domains`` (one two-phase groupBy(domain) for totals, the
    O(domains) rate relation broadcast back, corpus never shuffles).
    ``rate`` is rounded to 9dp before the draw compares against it —
    the share normalizer is a float sum over domains, and an
    engine's summation order must not be able to flip an acceptance
    at the 16th digit (τ = 0.5 keeps the power itself IEEE-exact via
    sqrt).

    Returns kept rows + (n_tokens, rate)."""
    toks = F.size(F.split(F.trim(F.lower(F.col(col))), r"\s+")) \
        .cast("long")
    base = df.withColumn("n_tokens", toks)
    totals = (base.groupBy(domain_col)
              .agg(F.sum("n_tokens").alias("_dom_toks")))
    pw = F.pow(F.col("_dom_toks").cast("double"), F.lit(float(tau)))
    wtab = totals.withColumn("_pw", pw)
    z = wtab.agg(F.sum("_pw").alias("_z"))
    rates = (wtab.crossJoin(F.broadcast(z))
             .select(domain_col,
                     F.round(F.lit(float(budget_tokens)) *
                             (F.col("_pw") / F.col("_z")) /
                             F.col("_dom_toks"), 9).alias("_r"))
             .withColumn("rate", F.least(F.lit(1.0), F.col("_r")))
             .drop("_r"))
    u = (F.conv(F.substring(
            F.md5(F.encode(F.concat(F.lit(f"{seed}:tmix:"),
                                    F.col(id_col).cast("string")),
                           "UTF-8")), 1, 15), 16, 10)
         .cast("double") / F.lit(float(16 ** 15)))
    return (base.join(F.broadcast(rates), domain_col)
            .filter(u < F.col("rate")))


def contamination_overlap(train: DataFrame, evalset: DataFrame,
                          id_col: str = "doc_id", col: str = "text",
                          k: int = 3) -> DataFrame:
    """Train/eval contamination check (the decontamination step of
    LLM data pipelines): for each training doc, the number of
    DISTINCT word ``k``-grams it shares with ANY eval-set doc.
    Returns only contaminated docs — (id, n_overlap); the caller
    anti-joins to drop them or thresholds on n_overlap.

    Scale shape: the eval side is benchmark-sized (thousands of docs,
    not billions) → its distinct shingle set is broadcast, so the
    train side never shuffles on the shingle key at corpus width —
    the check is a map-side semi-join + one groupBy(doc) on matches
    only. Shingle extraction reuses the dedup family's tokenization
    (dedup._shingles), which the oracle SQL mirrors 1:1."""
    from .dedup import _shingles

    tr = _shingles(train, id_col, col, k)
    ev = _shingles(evalset, id_col, col, k).select("tok").distinct()
    return (tr.join(F.broadcast(ev), "tok")
            .groupBy("doc")
            .agg(F.count("*").alias("n_overlap"))
            .select(F.col("doc").alias(id_col), "n_overlap"))


def pack_sequences(df: DataFrame, id_col: str = "doc_id",
                   col: str = "text", seq_len: int = 512,
                   n_bins: int = 8, seed: int = 42) -> DataFrame:
    """Concat-and-chunk sequence packing PLACEMENT (the GPT-style
    pretraining layout: documents concatenated in a fixed order and
    cut into ``seq_len``-token windows, documents spanning window
    boundaries split): for every doc, which shard ("bin") it packs
    into and its token interval there.

    Returns (id, bin, n_tokens, start_tok, end_tok[exclusive],
    seq_first, seq_last) — seq_first/seq_last are the first/last
    window indices the doc touches; seq_last > seq_first means the
    doc is split across window boundaries. The actual byte shuffling
    into training files is the (trivial) consumer of this placement.

    Determinism + scale shape: the bin is the md5-uniform draw used
    by ``hash_sample`` (mirrored bit-for-bit in DuckDB → the whole
    placement is value-checked, and identical on every run /
    partitioning / resume). Offsets are a running sum over a window
    PARTITIONED BY BIN in id order — bounded per-bin work, so choose
    ``n_bins ≈ corpus_docs / 10k`` at scale (10^12 docs → 10^8 bins
    of ~10k docs); packing is inherently a per-shard prefix sum, and
    bins ARE the shards, exactly how production packing pipelines
    parallelize. Sequence indices are bin-local; (bin, seq) is the
    global sequence key."""
    from pyspark.sql import Window

    u = (F.conv(F.substring(
            F.md5(F.encode(F.concat(F.lit(f"{seed}:bin:"),
                                    F.col(id_col).cast("string")),
                           "UTF-8")), 1, 15), 16, 10)
         .cast("double") / F.lit(float(16 ** 15)))
    toks = df.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.lower(F.col(col))),
                       r"\s+")).cast("long").alias("n_tokens"),
        F.floor(u * n_bins).cast("long").alias("bin"))
    w = Window.partitionBy("bin").orderBy(id_col)
    placed = (toks
              .withColumn("end_tok", F.sum("n_tokens").over(w))
              .withColumn("start_tok",
                          F.col("end_tok") - F.col("n_tokens")))
    return placed.select(
        id_col, "bin", "n_tokens", "start_tok", "end_tok",
        F.floor(F.col("start_tok") / seq_len).alias("seq_first"),
        F.floor((F.col("end_tok") - 1) / seq_len).alias("seq_last"))


def mix_domains(df: DataFrame, domain_col: str,
                weights: dict[str, float], budget_tokens: int,
                id_col: str = "doc_id", col: str = "text",
                seed: int = 42) -> DataFrame:
    """Domain-mixture resampling to a TOKEN budget — the curriculum /
    data-mixing step of LLM pipelines (the knob DoReMi-style recipes
    tune): given target mixture ``weights`` (domain → share of the
    training budget; normalized here) and ``budget_tokens``, keep
    each domain's documents at acceptance rate

        rate(d) = min(1, budget·share(d) / tokens(d))

    so the kept corpus approaches the target mixture in expectation
    without ever overdrawing a domain (a domain short of its
    allocation is taken whole — rate capped at 1 — matching how
    production mixers handle low-resource domains; re-weighting by
    REPETITION is the caller's follow-up, not a sampler concern).

    Determinism + scale shape: the accept draw is ``hash_sample``'s
    md5-uniform u(id) — no RNG state, resume-stable, mirrored
    bit-for-bit in DuckDB so the SAMPLE ITSELF is value-checked.
    Token totals are one two-phase groupBy(domain) (map-side combine;
    domain-cardinality rows), joined back as an auto-broadcast dim —
    the corpus-width side never shuffles. Tokens = whitespace count,
    the textstats family's tokenization.

    Returns the kept rows + (n_tokens, rate) for auditability.
    Domains absent from ``weights`` get share 0 → dropped."""
    z = sum(weights.values())
    shares = {k: v / z for k, v in weights.items()}
    m = F.create_map(*[F.lit(x) for kv in shares.items() for x in kv])
    toks = F.size(F.split(F.trim(F.lower(F.col(col))), r"\s+")) \
        .cast("long")
    base = df.withColumn("n_tokens", toks)
    totals = (base.groupBy(domain_col)
              .agg(F.sum("n_tokens").alias("_dom_toks")))
    share = F.coalesce(m[F.col(domain_col)], F.lit(0.0))
    rate = F.least(F.lit(1.0),
                   F.lit(float(budget_tokens)) * share
                   / F.col("_dom_toks"))
    u = (F.conv(F.substring(
            F.md5(F.encode(F.concat(F.lit(f"{seed}:mix:"),
                                    F.col(id_col).cast("string")),
                           "UTF-8")), 1, 15), 16, 10)
         .cast("double") / F.lit(float(16 ** 15)))
    return (base.join(F.broadcast(totals), domain_col)
            .withColumn("rate", rate)
            .filter(u < F.col("rate"))
            .drop("_dom_toks"))


def epoch_shuffle(df: DataFrame, id_col: str = "doc_id",
                  seed: int = 0, num_partitions: int | None = None) -> DataFrame:
    """Deterministic seeded GLOBAL shuffle with explicit positions —
    the per-epoch example-order shuffle of a training-data pipeline,
    as a relation: (id, pos) where pos is the 0-based position of the
    doc in the seed's permutation. A new ``seed`` is a new epoch.

    The permutation key is md5(seed || id) — RNG-free, resume-stable,
    and mirrored bit-for-bit in the DuckDB oracle (row_number over
    the same key), so the PERMUTATION ITSELF is value-checked.

    Scale shape — global row numbering WITHOUT a single-partition
    window (the naive ``row_number() OVER (ORDER BY key)`` collapses
    10^12 rows onto one task):

    1. ``repartitionByRange`` on the key — Spark's sampled range
       partitioner puts ascending key ranges on ascending partition
       ids, the same machinery a total sort uses;
    2. per-partition ``row_number`` windows PARTITIONED BY the
       physical partition id — each window is bounded by one
       partition's rows;
    3. partition sizes (one tiny count agg, partition-count rows)
       turn into cumulative offsets on the driver-side-free plan via
       a window over the size relation, broadcast back;
    4. pos = partition offset + local row number - 1.

    md5 keys are uniform, so the range partitioner needs no skew
    handling. Ties are impossible (id rides the sort key)."""
    key = F.md5(F.concat(F.lit(f"{seed}:shuf:"),
                         F.col(id_col).cast("string")))
    d = df.select(F.col(id_col).alias("id"), key.alias("_k"))
    d = (d.repartitionByRange(num_partitions, "_k", "id")
         if num_partitions else d.repartitionByRange("_k", "id"))
    d = d.withColumn("_pid", F.spark_partition_id())
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy("_k", "id"))
    d = d.withColumn("_rn", local)
    sizes = d.groupBy("_pid").agg(F.count("*").alias("_n"))
    off = sizes.withColumn(
        "_off",
        F.coalesce(F.sum("_n").over(
            Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
    return (d.join(F.broadcast(off.select("_pid", "_off")), "_pid")
            .select(F.col("id").alias(id_col),
                    (F.col("_off") + F.col("_rn") - 1)
                    .cast("long").alias("pos")))


def chunk_tokens(df: DataFrame, id_col: str = "doc_id",
                 col: str = "text", size: int = 128,
                 stride: int | None = None,
                 min_tokens: int = 1) -> DataFrame:
    """Fixed-window token chunking — the doc → training-example
    splitter that runs between cleaning and packing: each document
    becomes ceil-covering windows of ``size`` tokens advancing by
    ``stride`` (default = size, i.e. disjoint windows; stride < size
    gives sliding overlap for long-context curricula). Returns

    (id, chunk_id, chunk_start, n_chunk_tokens, chunk_text)

    with chunk_id dense from 0 per doc, chunk_start the 0-based token
    offset, and the FINAL window truncated at the doc end (emitted if
    it still has >= ``min_tokens`` tokens and starts inside the doc;
    a doc shorter than ``size`` yields exactly one chunk).

    Scale shape: pure narrow JVM map — tokenize once (array
    materialized as a column), one explode over the per-doc window
    starts; no shuffle at all. The natural upstream of
    ``pack_sequences`` (which bins the CHUNKS) and the tokenizer
    prep."""
    if stride is None:
        stride = size
    if stride <= 0:
        raise ValueError("stride must be positive")
    base = (df.select(F.col(id_col).alias("doc"),
                      F.split(F.trim(F.lower(F.col(col))),
                              r"\s+").alias("_t"))
            .withColumn("_n", F.size(F.col("_t"))))
    # window starts: 0, stride, 2*stride, ... while start < n
    n_chunks = F.greatest(
        F.ceil((F.col("_n") - size) / stride) + 1, F.lit(1)) \
        .cast("int")
    chunks = (base
              .select("doc", "_t", "_n",
                      F.explode(F.sequence(
                          F.lit(0), n_chunks - 1)).alias("chunk_id"))
              .withColumn("chunk_start",
                          (F.col("chunk_id") * stride).cast("long"))
              .filter(F.col("chunk_start") < F.col("_n"))
              .withColumn("_w", F.slice(F.col("_t"),
                                        F.col("chunk_start") + 1, size))
              .filter(F.size("_w") >= min_tokens))
    return chunks.select(
        F.col("doc").alias(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_start",
        F.size("_w").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("_w")).alias("chunk_text"))


def split_by_group(df: DataFrame, group_col: str,
                   fractions: dict[str, float] | None = None,
                   seed: int = 42,
                   split_col: str = "split") -> DataFrame:
    """Leakage-free train/val/test assignment: the ENTIRE group
    (host, source, domain — whatever ``group_col`` names) lands in
    one split, so evaluation rows never share a group with training
    rows. Splitting per-DOCUMENT leaks: near-identical pages from one
    host straddle the boundary and the val loss measures memorization
    of the host's template, not generalization — group-held-out
    splitting is the standard countermeasure.

    The draw is the repo's md5-uniform u = md5(seed:split:group)
    (RNG-free, resume-stable, mirrored bit-for-bit in DuckDB), cut at
    the cumulative ``fractions`` boundaries IN DICT ORDER — pass
    binary-exact fractions (0.5/0.25/0.25) when the assignment itself
    is value-checked cross-engine, since the boundaries are embedded
    as double literals on both sides. Fractions are normalized; a
    NULL group hashes to NULL and falls through to the LAST split
    (CASE semantics — deterministic, documented, and the conservative
    direction when the last split is 'test': unattributable rows
    never train).

    Scale shape: pure narrow JVM map — the group key is hashed
    per-row, so group consistency needs NO join, shuffle, or group
    materialization; the plan is a Project over the scan at any
    corpus size."""
    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    if len(fractions) < 1:
        raise ValueError("fractions must name at least one split")
    z = sum(fractions.values())
    if z <= 0:
        raise ValueError("fractions must sum to a positive weight")
    u = (F.conv(F.substring(
            F.md5(F.encode(F.concat(F.lit(f"{seed}:split:"),
                                    F.col(group_col).cast("string")),
                           "UTF-8")), 1, 15), 16, 10)
         .cast("double") / F.lit(float(16 ** 15)))
    names = list(fractions)
    expr, acc = None, 0.0
    for name in names[:-1]:
        acc += fractions[name] / z
        branch = (u < F.lit(acc), F.lit(name))
        expr = (F.when(*branch) if expr is None
                else expr.when(*branch))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def prune_by_quantile(df: DataFrame, score_col: str,
                      keep_frac: float = 0.5,
                      by: str | None = None) -> DataFrame:
    """Quality pruning by score quantile — keep the TOP ``keep_frac``
    of rows (FineWeb-style corpus refinement): rows with
    ``score >= threshold`` where threshold is the exact interpolated
    (1 − keep_frac) quantile, computed per ``by`` group when given
    (per-source thresholds stop one high-scoring source from crowding
    out every other's budget) or globally otherwise. Output = input
    columns + ``threshold`` — the cut is auditable row by row.

    Scale shape: the threshold relation is ONE row per group
    (|groups| ≪ corpus) and broadcasts back — no sort of the corpus,
    no window; NULL scores never survive (no evidence ≠ high
    quality). Exact interpolated percentile matches DuckDB's
    ``quantile_cont`` bit-for-bit on equal input sets, so the cut is
    cross-engine checkable."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError("keep_frac must be in (0, 1]")
    q = 1.0 - float(keep_frac)
    score = F.col(score_col)
    if by is None:
        thr = (df.filter(score.isNotNull())
               .agg(F.percentile(score, q).alias("threshold")))
        pruned = df.crossJoin(F.broadcast(thr))
    else:
        thr = (df.filter(score.isNotNull())
               .groupBy(by)
               .agg(F.percentile(score, q).alias("threshold")))
        pruned = df.join(F.broadcast(thr), by)
    return pruned.filter(score.isNotNull() &
                         (score >= F.col("threshold")))
