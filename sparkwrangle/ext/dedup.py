"""Deduplication operators for training-data pipelines (north-star §2.J).

Four families, each a different cost/recall point:

* exact       — hash-groupBy on normalized text. One shuffle on a 60-bit
                key; the canonical first pass at 100 TB.
* MinHash+LSH — shingle → k minhashes → b bands → bucket join. The
                near-dup scale path: candidate generation is linear, only
                bucket-mates are compared.
* SimHash     — 32-bit signed-projection signature; near-dups share most
                bits (compare via hamming distance on candidates).
* n-gram Jaccard — exact set overlap via a shingle self-join; quadratic
                only within shared shingles, used to verify LSH candidates.

All are built-in expressions (explode / groupBy / join) so Catalyst and
AQE own the physical plan; the shingle explode is the only row-expansion
and it is bounded by document length.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkwrangle.ext.hashing import (
    MERSENNE_P,
    h60,
    h60_spark_sql,
    minhash_coeffs,
    universal_hash,
    universal_hash_sql,
)
from sparkwrangle.ext.text import tokenize
from sparkwrangle.session import eager_partitions

_log = logging.getLogger("sparkwrangle.dedup")

# Estimated max occurrences of a single key above which the window form's
# single-task straggler outweighs the join form's extra subtree scan.
# Deliberately far below a real partition's row budget so the flip happens
# well before the straggler hurts, and far above the probe's sampling
# noise at that scale (±~6% at 50k with a 1/100 sample).
HOT_KEY_EST_THRESHOLD = 50_000
_PROBE_MOD = 100  # 1/100 deterministic hash-sample for the mode probe


def _probe_max_key_count(
    rows: DataFrame, key_col: str, hash_cols: list[str]
) -> int:
    """Estimate the hottest key's occurrence count via a DETERMINISTIC
    1/_PROBE_MOD hash-sample of the row stream (xxhash64 over the row's
    identifying columns — no RNG, so the mode decision is reproducible
    for a given corpus). The filter is map-side; the groupBy shuffles
    only the ~1% sample; the collect is one row. A key with df = D is
    expected to show D/_PROBE_MOD sampled rows, so est = sampled_max ×
    _PROBE_MOD with relative noise ~ sqrt(_PROBE_MOD / D) — tight
    exactly where it matters (large D)."""
    sampled = rows.filter(
        F.pmod(F.xxhash64(*hash_cols), F.lit(_PROBE_MOD)) == 0
    )
    mx = (
        sampled.groupBy(key_col)
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").alias("m"))
        .first()["m"]
    )
    return int(mx or 0) * _PROBE_MOD


def _validate_mode(mode: str, op_name: str) -> None:
    if mode not in ("auto", "window", "join"):
        raise ValueError(
            f"{op_name}: mode must be 'auto', 'window' or 'join', got {mode!r}"
        )


def _resolve_count_mode(
    mode: str,
    rows: DataFrame,
    key_col: str,
    hash_cols: list[str],
    op_name: str,
    stats: dict | None = None,
) -> str:
    """Validate ``mode`` and, for ``"auto"``, run the sampled max-df probe
    to pick ``"window"`` (no hot key — one scan, one shuffle, fastest) vs
    ``"join"`` (a key is pathological — AQE-skew-splittable equi-join).
    Records the decision in ``stats`` and the module logger."""
    _validate_mode(mode, op_name)
    if mode != "auto":
        if stats is not None:
            stats["mode"] = mode
            stats["est_max_df"] = None
        return mode
    est = _probe_max_key_count(rows, key_col, hash_cols)
    picked = "join" if est >= HOT_KEY_EST_THRESHOLD else "window"
    _log.info(
        "%s: auto count-mode probe est_max_df=%d -> %s", op_name, est, picked
    )
    if stats is not None:
        stats["mode"] = picked
        stats["est_max_df"] = est
    return picked


def normalize_text(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, strip punctuation — the exact-dedup
    canonical form."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " "))


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", count_mode: str = "window"
) -> DataFrame:
    """Exact dedup: normalized-text hash → group size per doc. Keep rows
    with dup_count == 1 (or min doc_id per group) to dedupe.

    Docs whose text is NULL or normalizes to EMPTY (the [a-z0-9 ]
    normalizer strips CJK/Cyrillic/emoji/punctuation-only content
    wholesale) get text_hash NULL and dup_count 1 — they are NOT
    duplicates of each other just because the normalizer cannot see
    them. Without this, one giant md5('') group would mark every
    non-Latin document in a multilingual corpus as a duplicate and the
    keep-one-per-group policy would silently delete the slice.

    ``count_mode``:

    * ``"window"`` (default): one scan, one shuffle, the (expensive)
      normalize+hash expression evaluates once per row. Caveat: the
      window pins every row of one text_hash to one task, and window
      shuffles are invisible to AQE skew splitting — on a corpus where
      one boilerplate page has 10⁸ copies (exactly what exact dedup
      exists to find), that group is a straggler/OOM.
    * ``"join"`` (skew-safe scale form): map-side-combinable
      ``groupBy(text_hash).count()`` joined back — the hot group's rows
      stay AQE-splittable. Costs a second evaluation of the hash
      subtree; flip to this on dup-heavy corpora. Output pinned equal
      to the window form by test.

    No ``"auto"`` probe here, unlike ngram_jaccard_pairs: the group key
    IS the content, so any content-derived deterministic sample keeps or
    drops whole groups together and cannot estimate the max group size —
    pick the mode from what you know about the corpus."""
    from pyspark.sql import Window

    if count_mode not in ("window", "join"):
        raise ValueError(
            f"exact_dup_groups: count_mode must be 'window' or 'join', "
            f"got {count_mode!r}"
        )
    norm = normalize_text(F.col(text_col))
    withhash = df.withColumn("text_hash", F.when(norm != "", h60(norm)))
    if count_mode == "join":
        counts = (
            withhash.filter(F.col("text_hash").isNotNull())
            .groupBy("text_hash")
            .agg(F.count("*").alias("dup_count"))
        )
        # left join: NULL-hash rows miss (null keys never equi-match)
        # and coalesce to 1 — the same rule as the window form's when()
        return withhash.join(counts, "text_hash", "left").withColumn(
            "dup_count", F.coalesce(F.col("dup_count"), F.lit(1))
        )
    w = Window.partitionBy("text_hash")
    return withhash.withColumn(
        "dup_count",
        F.when(F.col("text_hash").isNull(), F.lit(1)).otherwise(
            F.count("*").over(w)
        ),
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document, long format (id, shingle) —
    distinct by default (the dedup building block); ``distinct=False``
    keeps every occurrence (repetition statistics need the multiset).

    Two deliberate shapes here, both measured at sf0.1:

    * tokenize() lands in its OWN projection below the Generate. Inlined
      into the shingle lambda (one select), CollapseProject re-evaluates
      the regexp per shingle — 4.0 s vs 0.8 s for the whole subtree.
    * the n-gram is built by zipping n shifted slices of the token array
      (arrays_zip + one concat_ws per element) instead of an index lambda
      doing per-element slice() — no per-shingle array allocation, and
      still map-side only. A window-lead over exploded tokens is slightly
      faster locally but adds a full token-table shuffle, which is the
      wrong trade at corpus scale.

    Short docs: the `when` guard short-circuits, so the negative-length
    slices in the zip branch are never evaluated for size(t) < n.

    The gram construction itself is ``_gram_array_expr`` — ONE definition
    shared with positional_shingles and the span-mode probe, so a fix to
    the zip shape or the short-doc guard cannot apply to one consumer
    and miss the others.
    """
    t1 = df.select(id_col, tokenize(F.col(text_col)).alias("_t"))
    out = t1.select(id_col, F.explode(_gram_array_expr("_t", n)).alias("shingle"))
    return out.distinct() if distinct else out


def minhash_signatures(
    sh: DataFrame, id_col: str, k: int = 16, seed: int = 7
) -> DataFrame:
    """k-permutation MinHash signature per doc from its shingle set:
    sig_i = min over shingles of (a_i·(h60(shingle) mod p) + b_i) mod p.
    One aggregation — partial mins combine map-side. ``sh`` may be a
    multiset (``shingles(..., distinct=False)``): min over a multiset
    equals min over its set, and skipping the distinct saves a full
    corpus-wide shuffle before the aggregation."""
    base = sh.withColumn("h", h60(F.col("shingle")) )
    # each signature column is one SQL string parsed in a single py4j
    # round trip (r14): the Column-operator form cost ~10 trips per
    # permutation (~0.3 s of driver-side construction per call at k=16,
    # re-paid by every consumer); identical parsed trees, pinned by the
    # mapside-vs-aggregate bit-equality test and the minhash oracles
    aggs = [
        F.expr(f"min({universal_hash_sql('h', a, b)}) AS mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(k, seed))
    ]
    return base.groupBy(id_col).agg(*aggs)


def shingle_hash_array(text_col: Column | str, n: int = 3) -> Column:
    """Map-side n-gram shingle-hash ARRAY (no explode): h60 of the
    space-joined n-token window at each start position — the same values
    ``shingles()`` + ``h60`` produce long-format, as a per-row array.

    Built from n zipped shifted slices (the shingles() shape, NOTES.md
    CollapseProject trap): an index lambda doing per-element slice()
    would get the tokenize regexp INLINED into it and re-run per
    shingle — measured ~6× slower on this exact expression."""
    toks = tokenize(text_col)
    sz = F.size(toks)
    shifted = [F.slice(toks, i + 1, sz - (n - 1)).alias(f"t{i}") for i in range(n)]
    return F.when(
        sz >= n,
        F.transform(
            F.arrays_zip(*shifted),
            lambda s: h60(F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)])),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def mapside_minhash_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    seed: int = 7,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """MinHash signatures with ZERO shuffles: the shingle-hash array is
    built map-side per row and each of the k permutation minima is an
    ``array_min`` over a ``transform`` — no explode, no distinct, no
    groupBy. Bit-identical to ``minhash_signatures(shingles(...))``
    (pinned by test): min over the array multiset equals min over the
    set, and the integer universal-hash arithmetic is the same.

    This is the form a STREAMING ingest path requires (a streaming
    groupBy is unbounded state; a per-row projection is stateless), and
    on batch it trades the aggregate's shuffle for interpreted HOF
    evaluation — measure per workload. Docs with fewer than n tokens are
    dropped, matching the aggregate path (no shingles → no group).

    ``keep_cols`` carries extra columns (e.g. the event-time column a
    downstream watermark needs) through the projection.
    """
    arr = shingle_hash_array(F.col(text_col), n)
    # own projection below the signature select: each of the k transforms
    # references the array COLUMN, not the array-building expression
    # (CollapseProject would inline tokenize+zip into every lambda)
    base = df.select(
        id_col, *(keep_cols or []), arr.alias("_sh")
    ).filter(F.size("_sh") > 0)
    # one SQL string per permutation (r14, same rationale as
    # minhash_signatures): the Python-lambda HOF form cost ~8 py4j
    # round trips per permutation; the SQL lambda parses to the same
    # LambdaFunction tree (`h` is the lambda-bound variable, shadowing
    # any outer column of that name exactly as the Python lambda's
    # UnresolvedNamedLambdaVariable does). Bit-equality with the
    # aggregate path stays pinned by test.
    sigs = [
        F.expr(
            f"array_min(transform(_sh, h -> {universal_hash_sql('h', a, b)}))"
            f" AS mh{i}"
        )
        for i, (a, b) in enumerate(minhash_coeffs(k, seed))
    ]
    return base.select(id_col, *(keep_cols or []), *sigs)


def band_struct_array(k: int = 16, bands: int = 4) -> Column:
    """Array of (band, bh) structs from the mh0..mh{k-1} columns — the
    map-side banding expression shared by batch and streaming paths."""
    if bands <= 0 or k % bands != 0:
        # bands > k would make rows_per_band 0 and every band hash the
        # CONSTANT h60('') — the bucket join degenerates into the full
        # n² cross product; a non-dividing bands silently drops the
        # trailing signature rows and changes the recall curve
        raise ValueError(
            f"band_struct_array: bands must evenly divide k "
            f"(got k={k}, bands={bands})"
        )
    rows_per_band = k // bands
    # one SQL string, one py4j round trip (r14) — the Column-operator
    # form cost ~12 trips per band; same parsed tree (analyzer inserts
    # the same implicit bigint→string casts under concat_ws), pinned by
    # the banding oracles across seven entries
    parts = []
    for b in range(bands):
        cols = ", ".join(
            f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        bh = h60_spark_sql(f"concat_ws('_', {cols})")
        parts.append(f"struct({b} AS band, {bh} AS bh)")
    return F.expr("array(" + ", ".join(parts) + ")")


def band_explode(
    sigs: DataFrame, id_col: str, k: int = 16, bands: int = 4
) -> DataFrame:
    """Long-format LSH banding of a signature table: (id, band, bh) with
    bh = portable hash of the band's minhash row. The join key for
    candidate generation, shared by full and incremental dedup."""
    return sigs.select(
        F.col(id_col), F.explode(band_struct_array(k, bands)).alias("bb")
    ).select(id_col, "bb.band", "bb.bh")


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, k: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature (k/bands rows per band), bucket-join docs sharing
    a band hash → candidate pairs (id_a < id_b). Linear candidate
    generation: the join key is (band, band_hash)."""
    exploded = band_explode(sigs, id_col, k, bands)
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.0,
    max_df: int | None = None,
    df_cap_mode: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over a shingle self-join:
    |A∩B| / (|A| + |B| − |A∩B|), pairs with id_a < id_b above threshold.

    ``max_df`` drops shingles appearing in more than that many documents
    BEFORE the self-join (sizes count the filtered universe too). The
    self-join fans out as Σ df(shingle)², so one boilerplate shingle with
    df=10⁶ alone generates 10¹² pairs at corpus scale; capping df bounds
    per-shingle fan-out at max_df² while barely moving Jaccard (hot
    shingles carry no discriminative signal — the standard df-cap trick).
    Corpus-wide use MUST set it; LSH-candidate verification (bounded input)
    may pass None for the unfiltered exact measure.

    ``df_cap_mode`` picks HOW the cap is computed (only consulted when
    ``max_df`` is set):

    * ``"auto"`` (default): a deterministic 1% hash-sampled max-df probe
      (one cheap job) picks ``"window"`` unless some shingle's estimated
      df reaches ``HOT_KEY_EST_THRESHOLD`` — then the skew-safe
      ``"join"`` form engages without a caller flag. The decision is
      logged and recorded in ``stats`` (keys ``mode``, ``est_max_df``).
    * ``"window"`` (fastest when df skew is natural-corpus-shaped):
      ``count(*) OVER (PARTITION BY shingle)`` — one shuffle, the shingle
      subtree evaluates only for the two self-join branches. (MEASURED
      DEAD END: filtering via anti-join against the tiny hot-shingle list
      LOOKS cheaper but adds a third evaluation of the recomputed shingle
      subtree — 6s → 10-26s at sf0.1. Persisting the subtree is also a
      measured dead end: materialization breaks whole-stage pipelining.)
      Caveat at extreme skew: the window sends every row of one shingle
      to one partition, and window shuffles are invisible to AQE skew
      splitting.
    * ``"join"`` (skew-safe scale form): map-side-combinable
      ``groupBy(shingle).count()`` anti-joined back — shuffle volume for
      the count is distinct shingles, the hot-list is ≤ rows/max_df
      (AQE broadcasts it when small — not forced, since it is not
      provably bounded), and no operator pins a hot shingle's rows to
      one task (anti-join skew is AQE-splittable). Costs one extra
      evaluation of the shingle subtree; flip to this when one gram's
      df is pathological (boilerplate at 10⁹). Output is pinned equal
      to the window form by test.

    NOTE: ``"auto"`` (with ``max_df`` set) runs its probe job EAGERLY at
    plan-construction time, like duplicate_spans' auto mode — pass an
    explicit ``"window"``/``"join"`` to stay fully lazy.
    """
    from pyspark.sql import Window

    _validate_mode(df_cap_mode, "ngram_jaccard_pairs")
    if max_df is not None:
        # probe sample is DOC-granular (hash of id_col only): df counts
        # documents, so whole-doc sampling has the same ×_PROBE_MOD
        # scaling as row sampling — and because the predicate references
        # only the pass-through id column, Catalyst pushes it below the
        # tokenize/explode subtree to the scan, so the probe reads ~1% of
        # the corpus instead of exploding all of it and filtering after
        df_cap_mode = _resolve_count_mode(
            df_cap_mode,
            sh,
            "shingle",
            [id_col],
            "ngram_jaccard_pairs",
            stats,
        )
        if df_cap_mode == "join":
            hot = (
                sh.groupBy("shingle")
                .agg(F.count("*").alias("_df"))
                .filter(F.col("_df") > max_df)
                .select("shingle")
            )
            sh = sh.join(hot, "shingle", "left_anti")
        else:
            dfw = Window.partitionBy("shingle")
            sh = (
                sh.withColumn("_df", F.count("*").over(dfw))
                .filter(F.col("_df") <= max_df)
                .drop("_df")
            )
    # Carry each doc's shingle-set size on the rows themselves (window over
    # the doc key) instead of a separate sizes aggregate + two join-backs:
    # the expensive tokenize→explode→distinct subtree then evaluates twice
    # (the two self-join branches) rather than three times.
    sh = sh.withColumn("sz", F.count("*").over(Window.partitionBy(id_col)))
    a = sh.alias("a")
    b = sh.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count("*").alias("inter"),
            F.max(F.col("a.sz")).alias("sz_a"),  # constant per group
            F.max(F.col("b.sz")).alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard"
    )


def connected_components(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-cluster connected components by alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): cluster_id = smallest
    id reachable from each node.

    ``pairs`` is an undirected edge list (id_a, id_b); ``all_ids`` the
    full node universe (singleton docs become their own cluster).
    PRECONDITION: every edge endpoint must appear in ``all_ids`` — for
    an endpoint outside it the output row set is path-dependent (the
    one-round fast path would emit a row for it, the contraction path's
    all_ids-left-join would not), so outsiders are a contract violation,
    not a supported input. Each
    round rewires every node toward the minimum of its neighborhood:

    * large-star: for each node u, attach every STRICTLY LARGER neighbor
      to m(u) = min(N(u) ∪ {u});
    * small-star: orient edges (hi → lo), attach u and all its smaller
      neighbors to m(u) = min(N(u)).

    Both are one groupBy-min + one join over the current edge set, and the
    edge set never grows beyond the input size (each node emits at most
    its degree). The round count is O(log n) REGARDLESS of component
    shape — a diameter-d chain that one-hop min-label propagation walks in
    d rounds contracts in ~log₂ d doublings (pinned by the chain test in
    tests/test_ext.py). Convergence is detected when the oriented edge
    set's (count, hash-sum) fingerprint is stable across a round — the
    fingerprint rides the checkpoint-materialization job via ``observe``,
    so no extra comparison pass runs. ``localCheckpoint`` truncates
    lineage per round; on a real cluster use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for fault
    tolerance instead.

    Shallow-graph fast path: near-dup clusters are almost always stars or
    cliques (every member pairs with the minimum), for which ONE fused
    min(self, neighbors) propagation round is already the fixpoint — and
    costs a third of a contraction round. So the operator first runs that
    single propagation round with a changed-count observation; only a
    non-converged (deeper-than-one-hop) graph falls through to the
    contraction loop. Worst case pays one extra cheap round before the
    O(log n) loop; the common case never pays contraction's constant.

    ``stats`` (optional) receives {"rounds": n, "path": "propagation" |
    "contraction"} for observability.

    Returns (id_col, cluster_id), one row per node, deterministic.
    """
    from pyspark.sql import Observation

    def fingerprint(df):
        obs = Observation()
        return (
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("src", "dst")).alias("hs"),
            ),
            obs,
        )

    # orient (hi → lo), drop self-loops/dups; materialize once so rounds
    # don't re-derive the upstream candidate pipeline (shingle → LSH)
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("src"),
            F.least("id_a", "id_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges, obs = fingerprint(edges)
    edges = edges.localCheckpoint()
    prev = (obs.get["n"], obs.get["hs"])

    # The fast path and every contraction round run 3-5 small shuffles
    # over edge/vertex-sized data, sized here to the edge count (free: it
    # rides the fingerprint) and the optimizer's size estimate of
    # ``all_ids``.
    with eager_partitions(pairs.sparkSession, rows=prev[0], sized=all_ids):
        # -- shallow fast path: fused-init propagation, one verification round
        if prev[0] > 0:
            und0 = edges.select("src", "dst").union(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            # init is NOT checkpointed: its two consumers (the union branch
            # and prop's join) sit in the SAME job, so ReuseExchange serves
            # both from one materialization of the groupBy exchange — a
            # separate checkpoint job would add a barrier to buy nothing
            # (edges/all_ids below it are already materialized).
            init = (
                all_ids.select(
                    F.col(id_col).alias("node"), F.col(id_col).alias("lbl")
                )
                .union(und0.select(F.col("src").alias("node"), F.col("dst").alias("lbl")))
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
            prop = und0.join(init, und0["dst"] == init["node"]).select(
                F.col("src").alias("node"), F.col("lbl")
            )
            both = init.withColumn("_old", F.col("lbl")).union(
                prop.withColumn("_old", F.lit(None).cast(dict(init.dtypes)["lbl"]))
            )
            pobs = Observation()
            agg = (
                both.groupBy("node")
                .agg(F.min("lbl").alias("lbl"), F.min("_old").alias("_old"))
                .observe(
                    pobs,
                    F.sum((F.col("lbl") < F.col("_old")).cast("long")).alias(
                        "changed"
                    ),
                )
            )
            labels1 = agg.drop("_old").localCheckpoint()
            if pobs.get["changed"] == 0:
                if stats is not None:
                    stats["rounds"] = 1
                    stats["path"] = "propagation"
                return labels1.select(
                    F.col("node").alias(id_col), F.col("lbl").alias("cluster_id")
                )

        rounds = 1 if prev[0] > 0 else 0  # the propagation probe round above
        converged = prev[0] == 0
        for _ in range(max_iter):
            if prev[0] == 0:
                converged = True
                break
            # -- large-star: und = both directions; m(u) = min(u, min N(u));
            #    emit (v, m(u)) for v > u
            und = edges.select("src", "dst").union(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            mins = und.groupBy("src").agg(F.min("dst").alias("mn"))
            mins = mins.select(
                "src", F.least("src", "mn").alias("m")
            )
            large = (
                und.join(mins, "src")
                .filter(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .distinct()
            )
            # -- small-star on the large-star output, oriented hi → lo:
            #    m(u) = min N(u) (all neighbors are < u); emit (u, m) and
            #    (v, m) for the other small neighbors
            sm = large.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            ).filter(F.col("src") != F.col("dst"))
            mins2 = sm.groupBy("src").agg(F.min("dst").alias("m"))
            rewired = (
                sm.join(mins2, "src")
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                .union(mins2.select("src", F.col("m").alias("dst")))
                .distinct()
            )
            rewired, obs = fingerprint(rewired)
            edges = rewired.localCheckpoint()
            rounds += 1
            cur = (obs.get["n"], obs.get["hs"])
            if cur == prev:
                converged = True
                break
            prev = cur
        if not converged:
            # a non-fixpoint edge set is NOT a star forest: the label join
            # below would assign different cluster_ids to nodes of the same
            # component — plausible-looking but WRONG output, so fail loudly
            raise RuntimeError(
                f"connected_components: no fixpoint after max_iter={max_iter} "
                f"contraction rounds (contraction needs ~log2(diameter) "
                f"rounds; raise max_iter)"
            )
        if stats is not None:
            stats["rounds"] = rounds
            stats["path"] = "contraction"
        # at fixpoint the edge set is a star forest (node → component min);
        # singletons label themselves
        labels = all_ids.select(F.col(id_col).alias("node")).join(
            edges.select(F.col("src").alias("node"), F.col("dst").alias("root")),
            "node",
            "left",
        )
        return labels.select(
            F.col("node").alias(id_col),
            F.coalesce("root", "node").alias("cluster_id"),
        )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash signature: per token, take the portable hash; per bit j, sum
    ±1 over tokens; bit j of the signature = 1 iff the sum > 0.

    Expressed as one explode + one groupBy with ``bits`` conditional sums —
    map-side combinable, no UDF.
    """
    if not (0 < bits <= 60):
        # h60 is a 60-bit hash: bit positions 60+ of shiftright(h, j) are
        # always 0, so a wider signature would carry constant-zero high
        # bits (silently weaker hamming distances); 64+ additionally
        # overflows the int64 2**j literal at plan build
        raise ValueError(f"simhash: bits must be in 1..60, got {bits}")
    toks = df.select(id_col, F.explode(tokenize(F.col(text_col))).alias("tok"))
    toks = toks.withColumn("h", h60(F.col("tok")))
    # The whole signature is ONE SQL string parsed in a single py4j call
    # (r14): the Column-operator form issued ~10 py4j round trips per
    # bit (~450 for bits=32 at ~2 ms each — ~1 s of driver-side plan
    # construction on EVERY call, paid again per self-join consumer).
    # Catalyst sees the same 32 conditional-sum aggregates folded into
    # the same weighted sum (bit j set iff its ±1 token sum is > 0);
    # results pinned by the simhash unit test and the two oracle-hashed
    # catalog entries.
    sig = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (shiftright(h, {j}) & 1) = 1"
        f" THEN 1 ELSE -1 END) > 0 THEN CAST({2**j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return toks.groupBy(id_col).agg(F.expr(sig).alias("simhash"))


def _member_set_intersections(
    sh: DataFrame, cand: DataFrame, id_col: str
) -> DataFrame:
    """Shared exact-verify core of lsh_verified_pairs /
    prefix_filter_pairs: restrict the shingle stream to candidate
    MEMBERS (semi-join on the member-id set — statistics/AQE-sized, no
    forced broadcast: see the inline comment on ``cdocs``), collect
    each member's shingle SET into one doc-length-bounded array
    (collect_set — a no-op dedupe when ``sh`` is already distinct), and
    return ``cand`` with ``_sa``/``_sb`` set arrays and ``inter`` =
    ``size(array_intersect(_sa, _sb))`` — exact |A∩B| on a |cand|-row
    plan, never a |cand| × doc-length row blowup and never
    Σ df(shingle)² over the corpus. array_intersect is
    order-insensitive, so the two set joins carry no exchange-reuse
    dependence."""
    # one explode pass instead of a union of two selects (r14): the union
    # form read the candidate list twice (2×N map partitions feeding the
    # distinct); inline explode emits both endpoints from a single read —
    # same rows, half the map passes over the pair list at any scale
    cdocs = cand.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    # no forced broadcast: cdocs is near-dup-sized on a healthy corpus,
    # but on a DUP-HEAVY corpus (where dedup actually runs) it can
    # approach the corpus — let statistics/AQE broadcast it when it is
    # actually small and fall back to a shuffled semi-join otherwise
    sets = (
        sh.join(cdocs, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_ss"))
    )
    return (
        cand.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("_ss").alias("_sa")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("_ss").alias("_sb")),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")).cast("bigint"))
    )


def lsh_verified_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.15,
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard, with the quadratic
    check restricted to candidate MEMBERS: the candidate pair list is
    materialized once (``localCheckpoint`` — it is tiny, near-dup pairs
    only), the shingle table semi-joined on its member-id set (the
    semi-join is statistics/AQE-sized, not force-broadcast) and thus cut
    down to those docs, and each member's shingle SET collected into one
    doc-length-bounded array so the verify is
    ``size(array_intersect(A, B))`` per pair — a |candidates|-row plan,
    never a |candidates| × doc-length row blowup and never
    Σ df(shingle)² over the whole corpus. The output is bitwise
    identical to verifying corpus-wide (pinned by the oracle gate).
    This is the composition every product pipeline should use; the
    corpus-wide long-format form survives in the standalone
    `x_dedup_ngram_jaccard` (df-capped).

    ``sh`` may be a shingle MULTISET (``shingles(..., distinct=False)``) —
    and should be, for one fewer corpus-wide shuffle: min-hash over a
    multiset equals min-hash over its set, so the signature branch needs
    no distinct at all, and the Jaccard branch deduplicates AFTER the
    candidate-member semi-join, when the table is near-dup members only
    instead of the whole corpus. Output is identical either way.
    """
    sigs = minhash_signatures(sh, id_col, k=k)
    # the candidate-pair checkpoint job runs at a partition count sized
    # to the shingle stream's size estimate; the lazy verify plan does not
    with eager_partitions(sh.sparkSession, sized=sh):
        cand = lsh_candidate_pairs(sigs, id_col, k=k, bands=bands).localCheckpoint()
    # exact verify via the shared member-set core (collect_set dedupes
    # the multiset input) — measured ~2× faster than the long-format
    # intersection join at sf0.1; sizes come from the set arrays
    return (
        _member_set_intersections(sh, cand, id_col)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("_sa") + F.size("_sb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )


def prefix_filter_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    order: str = "df",
) -> DataFrame:
    """EXACT similarity self-join by prefix filtering (AllPairs, Bayardo
    et al. WWW'07, + PPJoin's positional filter, Xiao et al. WWW'08) —
    the LOSSLESS complement to MinHash-LSH: every pair with Jaccard ≥
    ``threshold`` is returned, no probabilistic recall, and the self-join
    never touches all pairs.

    Why it is exact: fix any consistent total order over shingles and
    define each doc's *prefix* as its first ``p = sz − ceil(t·sz) + 1``
    shingles in that order. If J(A,B) ≥ t then |A∩B| ≥ t·max(|A|,|B|),
    and two sets whose overlap is that large MUST share a token inside
    both prefixes — so the prefix×prefix equi-join loses no true pair.
    Candidates then pass a length filter (t·|A| ≤ |B| ≤ |A|/t) and
    PPJoin's positional bound before the exact Jaccard verify; filters
    only ever discard pairs the verify would discard, so output equals
    the brute-force join (pinned by test and by the uncapped oracle).

    ``order`` picks the total order:

    * ``"df"`` (default): ascending document frequency, rarest first —
      the literature's order; prefixes hold the rarest shingles, so the
      candidate join's fan-out Σ df_prefix(s)² is minimized. Costs one
      map-side-combinable groupBy(shingle).count() plus a join back to
      the shingle stream (same key as the count, so the join inserts no
      extra exchange beyond the count's own shuffle).
    * ``"hash"``: xxhash64(shingle) — orderless corpora or when the df
      pass is not worth it; zero extra jobs, average-case prefixes.
      Measured at sf0.1 (flat synthetic dfs): ~0.5 s faster warm
      because it skips two exchanges, but +40% candidate-join rows
      (461k vs 329k) — on a natural Zipfian corpus that gap explodes,
      so ``"df"`` stays the catalog/scale default.

    Scale shape (100 TB): no window over any corpus-wide key — the only
    windows partition by the DOC (bounded by doc length). The candidate
    join is an equi-join on shingle (AQE-skew-splittable), its fan-out
    bounded by prefix df², and the verify fan-out by the candidate set —
    never Σ df(shingle)² over the corpus like the df-capped brute form.

    Positional-filter soundness under a consistent order: prefixes are
    downward-closed in the global order, so any common shingle ranked
    before a pair's LAST prefix match would itself be a prefix match —
    hence every unmatched common shingle ranks after (max_pa, max_pb)
    and overlap ≤ pm + min(sz_a − max_pa, sz_b − max_pb).

    ``sh`` MUST be one row per (doc, shingle) — ``shingles(...,
    distinct=True)`` — positions and sizes are set-semantics; a multiset
    input would corrupt both (unlike the minhash path, which tolerates it).
    """
    from pyspark.sql import Window

    if order not in ("df", "hash"):
        raise ValueError(f"prefix_filter_pairs: order must be 'df' or 'hash', got {order!r}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"prefix_filter_pairs: threshold must be in (0, 1], got {threshold!r}")
    t = float(threshold)
    if order == "df":
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        src = sh.join(dfc, "shingle")
        order_cols = [F.col("_df"), F.col("shingle")]
    else:
        src = sh
        order_cols = [F.xxhash64("shingle"), F.col("shingle")]
    # The two eager checkpoints run at a partition count sized to the
    # shingle stream's size estimate (measured at sf0.1: entry total
    # 5.10/4.08 s at the session's 32 partitions vs 3.33/2.83 s at 8);
    # the lazy verify plan does not.
    wdoc = Window.partitionBy(id_col)
    with eager_partitions(sh.sparkSession, sized=sh):
        ranked = src.select(
            id_col,
            "shingle",
            F.row_number().over(wdoc.orderBy(*order_cols)).alias("pos"),
            F.count("*").over(wdoc).alias("sz"),
        ).localCheckpoint()
        # ^ consumed THREE times — both sides of the candidate self-join
        # (via the prefix filter below) and the exact-verify member sets —
        # so the materialization point moved UP from the prefix cut to the
        # full positioned stream (r13 optimization, guide §1.2 step 1 /
        # §3.3): the verify previously re-derived the corpus shingle stream
        # plus its distinct from scratch TWICE, and the stream's df-order
        # pass (count + join-back + two per-doc windows) ran again with it.
        # ranked is the distinct shingle stream plus (pos, sz) — ~2× the
        # bytes of the old prefix cut at t=0.5, same block-manager-local
        # policy, and the verify becomes a semi-join + collect_set over an
        # already-distinct, already-tokenized relation (measured min-of-5
        # at sf0.1: whole entry 5.63 → 4.93 s warm, 17.4 → 12.6 s cold,
        # isolated session).
        # prefix length p = sz − ceil(t·sz) + 1; the 1e-9 slack keeps a float
        # product like 3.0000000004 from ceiling to 4 and shortening the
        # prefix (which would be a FALSE-NEGATIVE bug, not a slowdown)
        prefix = ranked.filter(
            F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
        )
        a, b = prefix.alias("a"), prefix.alias("b")
        ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
        cand = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (ida < idb)
                # length filter: J ≥ t ⟹ t·|A| ≤ |B| and t·|B| ≤ |A|
                & (F.lit(t) * F.col("a.sz") <= F.col("b.sz") + F.lit(1e-9))
                & (F.lit(t) * F.col("b.sz") <= F.col("a.sz") + F.lit(1e-9)),
            )
            .groupBy(ida.alias("id_a"), idb.alias("id_b"))
            .agg(
                F.count("*").alias("pm"),
                F.max("a.pos").alias("max_pa"),
                F.max("b.pos").alias("max_pb"),
                F.max("a.sz").alias("sz_a"),  # constant per group
                F.max("b.sz").alias("sz_b"),
            )
            # positional filter: overlap ≤ pm + min(remaining suffix lengths);
            # J ≥ t ⟺ (1+t)·overlap ≥ t·(sz_a+sz_b), so prune when even the
            # bound cannot reach it
            .filter(
                (
                    F.col("pm")
                    + F.least(
                        F.col("sz_a") - F.col("max_pa"), F.col("sz_b") - F.col("max_pb")
                    )
                )
                * F.lit(1.0 + t)
                >= F.lit(t) * (F.col("sz_a") + F.col("sz_b")) - F.lit(1e-9)
            )
            .select("id_a", "id_b", "sz_a", "sz_b")
            # the pair list is near-dup-sized and consumed TWICE (the verify
            # join chain and the final size join) — materialize it once or
            # the whole prefix subtree (df count + join + windows + self-join)
            # re-evaluates per consumer, same policy as lsh_verified_pairs
            .localCheckpoint()
        )
    # exact verify via the shared member-set core, reading the RANKED
    # checkpoint (already tokenized + distinct) instead of re-deriving
    # the shingle stream from the raw input; sizes come from cand's
    # sz_a/sz_b (set semantics — input is contractually distinct, so
    # collect_set changes nothing)
    out = _member_set_intersections(
        ranked.select(id_col, "shingle"), cand, id_col
    ).withColumn(
        "jaccard",
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard"
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "s",
    k: int = 2,
    q: int = 2,
) -> DataFrame:
    """EXACT edit-distance similarity self-join by q-gram prefix filtering
    (Ed-Join, Xiao et al. VLDB'08) — blocked entity resolution / fuzzy
    record linkage: every (a, b) pair with ``levenshtein(a, b) <= k`` is
    returned, and the self-join never evaluates all pairs.

    Why it is exact (set semantics): one edit operation rewrites at most
    ``q`` character q-grams, and a DISTINCT gram leaves the gram set only
    if every occurrence is destroyed, so ``ed(a, b) <= k`` implies
    ``|G(a) \\ G(b)| <= k*q`` (symmetrically for b). Fix any consistent
    total order over grams and take each string's first ``k*q + 1`` grams
    as its *prefix*. When BOTH gram sets have at least ``k*q + 1``
    elements and the prefixes share no gram, the whole prefix of the
    side whose (k*q+1)-th gram ranks lower is missing from the other SET
    — |difference| >= k*q + 1 > k*q, contradiction. Hence the prefix x
    prefix equi-join loses no true pair between *long* strings.

    The prefix bound says NOTHING about strings with fewer than
    ``k*q + 1`` grams (``len < q*(k+1)``): "ab" and "ba" are within
    distance 2 yet share no gram at all. Pairs touching such a *short*
    string go through a separate length-banded pass — shorts equi-join
    (on exploded candidate length len±k) against every string short
    enough to pass the length filter. Both unioned candidate sets then
    pass the length filter (``ed >= |len(a) - len(b)|``) and an exact
    ``levenshtein`` verify, so output equals the brute-force join (the
    catalog oracle IS the brute force — hash equality proves
    losslessness; the brute-equality test plants start-of-string edits,
    tiny-gram-set strings, and boundary length gaps).

    The total order is ascending document frequency with the gram string
    as tiebreak (rarest first), minimizing candidate fan-out exactly as
    in ``prefix_filter_pairs``. Strings shorter than ``q`` (including
    empty) carry no gram but remain full participants — they flow
    through the short pass, so pairs like ('', 'c') at k=1 ARE returned
    (round-8 fuzz fix). Only NULL strings are excluded (levenshtein
    against NULL is NULL in both engines).

    Scale shape (100 TB): no corpus-wide window — the only window
    partitions by the STRING's id (bounded by string length). The
    candidate join is an equi-join on gram (AQE-skew-splittable), its
    fan-out bounded by prefix-df^2; the verify touches candidates only,
    each a bounded-length string comparison. The short pass is an
    equi-join on length over strings of length < q*(k+1)+k only —
    quadratic ONLY within a length band of the short-string population
    (entity keys that short are pre-deduplicated exactly in any real
    pipeline; the pass exists for losslessness, not volume). This is the
    same plan family as the lossless set-similarity join, specialized to
    edit distance.

    Returns (id_a, id_b, dist) with ``id_a < id_b``, dist = exact
    Levenshtein distance <= k.

    EAGER / SNAPSHOT semantics: the prefix localCheckpoint and the
    short-pass emptiness probe both evaluate at CALL time, so the
    returned DataFrame is a snapshot of the corpus as of the call —
    not a live view that tracks files appended to the source afterwards
    (re-call the function after ingesting new data). This is the same
    contract as every checkpointing operator in this module.
    """
    from pyspark.sql import Window

    if k < 0:
        raise ValueError(f"edit_distance_pairs: k must be >= 0, got {k}")
    if q < 1:
        raise ValueError(f"edit_distance_pairs: q must be >= 1, got {q}")
    # keep EVERY non-null string — including those shorter than q
    # (even empty): they have no q-grams, but they can still sit within
    # edit distance k of other strings ('' vs 'c' at k=1), so they must
    # flow through the short pass and the final verify. (Fuzz-caught:
    # the old `length >= q` cut here silently dropped every pair
    # involving a sub-q string.) NULLs stay excluded — levenshtein
    # against NULL is NULL in both engines.
    strs = df.select(
        F.col(id_col).alias("_id"), F.col(str_col).alias("_s")
    ).filter(F.col("_s").isNotNull())
    min_len_long = q * (k + 1)
    # The short-string existence probe rides the prefix checkpoint job as
    # an Observation instead of its own take(1) job (guide §1/§5: one
    # fewer eager driver barrier per call). The observe sits ABOVE the
    # length >= q gram filter, so sub-q strings ARE seen; Catalyst
    # does not push filters below CollectMetrics (probed — the node must
    # see exactly the rows of the Dataset it was attached to), so the
    # flag covers every non-null string. It is a max(), not a count: the
    # gram subtree evaluates the observed node once per consuming branch,
    # so a sum would over-count. max() over an empty corpus is NULL,
    # which reads as False.
    from pyspark.sql import Observation

    _short_obs = Observation()
    strs_obs = strs.observe(
        _short_obs,
        F.max(F.length("_s") < min_len_long).alias("has_short"),
    )
    # distinct positional q-grams -> gram SET per string; the sequence
    # upper bound is always >= 0 after the length filter (sequence counts
    # DOWN for negative spans — the filter is load-bearing)
    grams = strs_obs.filter(F.length("_s") >= q).select(
        "_id",
        F.length("_s").alias("_len"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(_s) - {q} + 1),"
                    f" i -> substring(_s, i, {q}))"
                )
            )
        ).alias("gram"),
    )
    dfc = grams.groupBy("gram").agg(F.count("*").alias("_df"))
    wdoc = Window.partitionBy("_id").orderBy(F.col("_df"), F.col("gram"))
    prefix = (
        grams.join(dfc, "gram")
        .withColumn("_pos", F.row_number().over(wdoc))
        .filter(F.col("_pos") <= k * q + 1)
        .select("_id", "_len", "gram")
        # consumed on BOTH sides of the candidate self-join below —
        # without materialization the whole gram subtree (explode +
        # df groupBy + per-doc window) re-evaluates per side, i.e. 4x
        # gram generation per run. The prefix is tiny (<= k*q+1 rows
        # per string), so this is the cheapest cut point; same policy
        # as prefix_filter_pairs / lsh_verified_pairs.
        .localCheckpoint()
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    long_cand = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a._id") < F.col("b._id"))
        # length filter: ed(a,b) >= |len(a) - len(b)|
        & (F.abs(F.col("a._len") - F.col("b._len")) <= k),
    ).select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    # short pass: strings with < k*q+1 grams sit outside the prefix
    # lemma — pair each against every string the length filter admits,
    # via an equi-join on exploded candidate length (never a cartesian)
    lens = strs.select("_id", F.length("_s").alias("_len"))
    # The short pass exists ONLY for strings with < k*q+1 grams (the
    # prefix lemma is silent about them). When the corpus has none —
    # the common case for entity keys — skip the whole banded subtree.
    # The existence bit was observed during the prefix checkpoint job
    # above (r14: previously a separate take(1) probe job; the
    # Observation folds it into the job that runs anyway).
    if _short_obs.get["has_short"]:
        shorts = lens.filter(F.col("_len") < min_len_long).select(
            "_id",
            F.explode(
                F.sequence(
                    # lower bound 0, not q: partners shorter than q
                    # (including empty strings) are legal edit-distance
                    # neighbors and carry no grams to find them with
                    F.greatest(F.col("_len") - k, F.lit(0)),
                    F.col("_len") + k,
                )
            ).alias("_plen"),
        )
        partners = lens.filter(F.col("_len") < min_len_long + k).select(
            F.col("_id").alias("_pid"), F.col("_len").alias("_plen")
        )
        short_cand = (
            shorts.join(partners, "_plen")
            .filter(F.col("_id") != F.col("_pid"))
            .select(
                F.least("_id", "_pid").alias("id_a"),
                F.greatest("_id", "_pid").alias("id_b"),
            )
        )
        cand = long_cand.union(short_cand).distinct()
    else:
        cand = long_cand.distinct()
    sa = strs.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    sb = strs.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .filter(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )


def positional_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Word n-gram shingles WITH start positions: (id, pos, shingle),
    pos = 0-based token offset of the gram's first word. Same
    projection-barrier + zipped-slice shape as shingles() (tokenize in
    its own projection below the Generate; no per-gram slice allocation);
    posexplode supplies the offset for free."""
    t1 = df.select(id_col, tokenize(F.col(text_col)).alias("_t"))
    return t1.select(
        id_col, F.posexplode(_gram_array_expr("_t", n)).alias("pos", "shingle")
    )


def _gram_array_expr(tokens_col: str, n: int) -> Column:
    """n-gram strings of a token-array column as an ARRAY expression
    (the zipped-slice shape of shingles(), before any explode) — shared
    by positional_shingles and the explode-free span-mode probe."""
    sz = F.size(tokens_col)
    shifted = [
        F.slice(F.col(tokens_col), i + 1, sz - (n - 1)).alias(f"t{i}")
        for i in range(n)
    ]
    return F.when(
        sz >= n,
        F.transform(
            F.arrays_zip(*shifted),
            lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _gram_hash_array_expr(tokens_col: str, n: int) -> Column:
    """Per-gram 64-bit hashes WITHOUT building gram strings: xxhash64
    over the n zipped token fields directly (equality-only use — the
    probe; positional_shingles keeps real strings for the oracle-portable
    h60). Measured slightly faster than concat_ws+hash at sf0.1 and
    allocation-free per gram, which is what matters on a wide corpus."""
    sz = F.size(tokens_col)
    shifted = [
        F.slice(F.col(tokens_col), i + 1, sz - (n - 1)).alias(f"t{i}")
        for i in range(n)
    ]
    return F.when(
        sz >= n,
        F.transform(
            F.arrays_zip(*shifted),
            lambda s: F.xxhash64(*[s[f"t{i}"] for i in range(n)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _span_probe_max_gram_count(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> dict:
    """Estimate the hottest n-gram's corpus-wide occurrence count WITHOUT
    exploding the corpus, as max(within, cross) of two cheap views:

    * ``within``: EXACT max occurrence count of any single gram inside
      one document — per row, hash the gram array, sort it, and fold for
      the longest equal-run (equal hashes sort adjacent, so the longest
      run IS the top gram's count). Pure map-side whole-stage-codegen
      expressions: rows stay 1-per-doc, no explode, no shuffle beyond
      the final scalar max. This catches the single-pathological-document
      case DETERMINISTICALLY (a row-sampled probe only catches it with
      sampling luck, and pays a full tokenize+explode pass to try).
    * ``cross``: occurrence count over a deterministic 1/_PROBE_MOD
      doc-granular hash-sample, scaled by _PROBE_MOD — catches
      boilerplate grams spread across many documents; the predicate
      references only ``id_col``, so Catalyst pushes it to the scan and
      the probe reads ~1% of the corpus.

    A gram split adversarially between one document and a broad spread
    shows ≥ half its true count to one of the two views, so the combined
    estimate underestimates by at most 2× — within the deliberate margin
    of HOT_KEY_EST_THRESHOLD (50k vs a real partition's row budget).
    Hash collisions merge runs/counts and only ever OVERestimate (a
    conservative flip to the skew-safe form)."""
    toks = df.select(id_col, tokenize(F.col(text_col)).alias("_t"))
    ghs = F.array_sort(_gram_hash_array_expr("_t", n))
    within = toks.select(
        F.aggregate(
            ghs,
            F.struct(
                F.lit(None).cast("bigint").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(
                    acc.getField("prev").isNotNull() & (x == acc.getField("prev")),
                    acc.getField("run") + 1,
                )
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc.getField("best"),
                    F.when(
                        acc.getField("prev").isNotNull()
                        & (x == acc.getField("prev")),
                        acc.getField("run") + 1,
                    ).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc.getField("best"),
        ).alias("m")
    ).agg(F.max("m").alias("m")).first()["m"]
    sampled = toks.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(_PROBE_MOD)) == 0)
    cross = (
        sampled.select(F.explode(_gram_hash_array_expr("_t", n)).alias("gh"))
        .groupBy("gh")
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").alias("m"))
        .first()["m"]
    )
    return {
        "est_within_doc": int(within or 0),
        "est_cross_doc": int(cross or 0) * _PROBE_MOD,
    }


def _resolve_span_mode(
    mode: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    stats: dict | None,
) -> str:
    """Validate ``mode`` and, for ``"auto"``, run the explode-free span
    probe (see _span_probe_max_gram_count) to pick window vs join."""
    _validate_mode(mode, "duplicate_spans")
    if mode != "auto":
        if stats is not None:
            stats["mode"] = mode
            stats["est_max_df"] = None
        return mode
    ests = _span_probe_max_gram_count(df, id_col, text_col, n)
    est = max(ests.values())
    picked = "join" if est >= HOT_KEY_EST_THRESHOLD else "window"
    _log.info(
        "duplicate_spans: auto count-mode probe within=%d cross=%d -> %s",
        ests["est_within_doc"],
        ests["est_cross_doc"],
        picked,
    )
    if stats is not None:
        stats["mode"] = picked
        stats["est_max_df"] = est
        stats.update(ests)
    return picked


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
    count_mode: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Substring-granular exact dedup (the Lee et al. 2022 'Deduplicating
    Training Data' class, re-expressed relationally): find every token
    position whose n-gram occurs ≥ min_count times ANYWHERE in the corpus
    (within- or cross-document), then merge overlapping/adjacent duplicate
    grams into maximal spans per document via gaps-and-islands.

    Plan shape: map-side positional shingles → ONE corpus-wide occurrence
    count on the gram hash → per-document windows on the (much smaller)
    duplicated-position set. All-integer output — no float hazard.
    Returns (id, span_start, span_end, span_tokens, n_dup_grams) where
    span_end is exclusive (span covers tokens [span_start, span_end)).

    ``count_mode`` picks how the corpus-wide gram count is computed:

    * ``"auto"`` (default): an explode-free two-view probe estimates the
      hottest gram's occurrence count — an EXACT map-side within-doc max
      (sorted gram-hash runs folded per row: no explode, no shuffle, so a
      single pathological document flips DETERMINISTICALLY) combined with
      a scan-pushed 1% doc-sampled cross-doc count (boilerplate spread
      over many docs); below ``HOT_KEY_EST_THRESHOLD`` it runs the
      ``"window"`` form, at/above it the skew-safe ``"join"`` form — so
      the scale-safe plan engages without a caller flag. An adversarial
      concentrated/spread split shows ≥ half its count to one view, so
      the estimate is within 2× — inside the threshold's deliberate
      margin. NOTE: auto runs the probe jobs EAGERLY at plan-construction
      time (the choice shapes the plan); pass an explicit mode to stay
      fully lazy. Decision logged and recorded in ``stats`` (keys
      ``mode``, ``est_max_df``, ``est_within_doc``, ``est_cross_doc``).
    * ``"window"``: ``count(*) OVER (PARTITION BY gh)`` — the
      position stream is scanned ONCE and shuffled once (keyed by content
      hash, so natural corpora spread evenly). Measured 2.6× faster than
      the join form at sf0.1 local (scan recompute dominates there).
      Caveat at extreme skew: one boilerplate gram at 10⁹ occurrences is
      a single straggler task, and window shuffles are invisible to AQE
      skew splitting.
    * ``"join"`` (skew-safe scale form): map-side-combinable
      ``groupBy(gh).count()`` (shuffle volume = distinct grams per map
      partition, not all positions) joined back onto the position stream.
      The equi-join is AQE-skew-splittable, and when the duplicated-gram
      side is small AQE upgrades it to broadcast (no shuffle of the
      positions at all) — the plan to run when one gram's occurrence
      count is pathological. Costs a second evaluation of the shingle
      subtree (counts build + probe). Output pinned equal to the window
      form by test."""
    from pyspark.sql import Window

    count_mode = _resolve_span_mode(count_mode, df, id_col, text_col, n, stats)
    g = positional_shingles(df, id_col, text_col, n)
    g = g.select(id_col, "pos", h60(F.col("shingle")).alias("gh"))
    if count_mode == "join":
        occs = (
            g.groupBy("gh").agg(F.count("*").alias("occ"))
            .filter(F.col("occ") >= min_count)
        )
        dup = g.join(occs, "gh")
    else:
        occ = F.count("*").over(Window.partitionBy("gh"))
        dup = g.withColumn("occ", occ).filter(F.col("occ") >= min_count)
    wd = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(wd).isNull() | (F.col("pos") > F.lag("pos").over(wd) + n),
        1,
    ).otherwise(0)
    isl = dup.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end"),
        (F.max("pos") + n - F.min("pos")).alias("span_tokens"),
        F.count("*").alias("n_dup_grams"),
    ).drop("island")
