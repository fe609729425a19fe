"""Plan-quality regression tests: the physical plans the engine promises
(SCALE.md) — pushdown reaching the scan, pruned read schemas, broadcast
joins for dimensions, no Python in relational paths."""

from __future__ import annotations

import re
from dataclasses import dataclass

import pytest

from sparkwrangle.catalog import CATALOG

from conftest import SF_SMOKE


def _plan(spark, name):
    # formatted explain — toString() truncates long fields like
    # PushedFilters/ReadSchema
    jdf = CATALOG[name].fn(spark, SF_SMOKE)._jdf
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def test_scan_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "a_scan_pushdown")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    # column pruning: only the needed columns in the read schema
    assert "l_tax" not in plan and "l_returnflag" not in plan


def test_dimension_joins_broadcast(spark):
    for name in ["c_join_delta", "tpch_q5_local_supplier", "c_block_range_join"]:
        plan = _plan(spark, name)
        assert "Broadcast" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dimension join shuffled"


def test_global_topk_avoids_full_sort(spark):
    plan = _plan(spark, "q_global_sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_relational_paths_are_python_free(spark):
    # no ArrowEvalPython / BatchEvalPython / FlatMapGroupsInPandas outside
    # the two stateful operators and the multimodal stub
    for name in [
        "tpch_q1_pricing_summary",
        "w_minmax_normalize",
        "c_asof_union_ffill",
        "x_dedup_minhash_lsh",
        "x_knn_cosine_brute",
        "x_text_stats",
    ]:
        plan = _plan(spark, name)
        for marker in ("EvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
            assert marker not in plan, f"{name} runs Python on executors"


def test_stateful_operator_prunes_before_udf(spark):
    plan = _plan(spark, "s2_intraday_trader")
    assert "FlatMapGroupsInPandas" in plan
    # props/event_type never reach the UDF: projection happens below it
    assert "props" not in plan


# names whose plans legitimately run Python on executors
_PYTHON_OK = {
    "s1_daily_pairs_backtest",
    "s1_compounded_return",
    "s2_intraday_trader",
    "s2_trader_single_position",  # same applyInPandas trader, restricted regime
    "s2_trader_percent_ledger",  # same trader, percent sizing + ledger output
    "ep2_full_pipeline",
    "ep2_trader_single_position",  # same applyInPandas trader, restricted regime
    "ep2_trader_percent_ledger",  # same trader, reference percent sizing
    "x_multimodal_features",
    "x_multimodal_bmp_decode",  # binary synth + real BMP parse, Arrow-batched
    "x_multimodal_wav_decode",  # binary synth + real RIFF/PCM parse
    "x_multimodal_png_decode",  # binary synth + real zlib/unfilter decode
    "x_multimodal_png_interlaced",  # same decode, Adam7 wire layout
    "x_multimodal_jpeg_decode",  # binary synth + real Huffman/IDCT decode
    "x_multimodal_jpeg_progressive",  # four-scan SOF2 decode, same kernel
    "x_image_resize",  # nearest-neighbor BMP resample, Arrow-batched
    "x_audio_features",  # PCM DSP features (energy/peak/zcr/rms)
    "x_frame_sampling",
    # dense numeric kernel: one BLAS GEMM per cell beats the relational
    # pair join 10× (see ext/similarity.embedding_neardup_pairs_gemm)
    "x_embedding_neardup",
    "x_semantic_dedup",  # same GEMM kernel over trained cells
    # sign-LSH banding: vectorized Arrow batches replace interpreted HOF
    # folds (ext/similarity.lsh_band_buckets_vectorized)
    "x_knn_lsh_hyperplane",
    # sampled PQ trainer: the bounded hash-sample runs the whole
    # quantile-seed + Lloyd chain as ONE applyInPandas stage per
    # subspace (ext/similarity._pq_train_subspace_pdf) — bit-identical
    # to the relational chain, pinned by test
    "x_knn_pq_adc",
    "x_knn_pq_rerank",
    "x_knn_ivfpq",
    "x_stream_ann_batch_twin",  # same sampled pandas trainer as the PQ family
}


def _keyset(seq) -> set[str]:
    """Expression strings of a JVM Seq[Expression], expression ids
    stripped."""
    return {re.sub(r"#\d+L?", "", seq.apply(i).toString()) for i in range(seq.size())}


def hash_part_keys(p) -> list[set[str]]:
    """Key sets of every HashPartitioning in a JVM Partitioning (a join's
    PartitioningCollection holds one per side). Walks the partitioning's
    ``expressions()`` children, so a nested key such as
    ``xxhash64(company, block_id, 42)`` stays one whole key."""
    kind = p.getClass().getSimpleName()
    if kind == "PartitioningCollection":
        ps = p.partitionings()
        return [k for i in range(ps.size()) for k in hash_part_keys(ps.apply(i))]
    if kind == "HashPartitioning":
        return [_keyset(p.expressions())]
    return []


def _shuffled_join_partitionings(plan) -> list[tuple[set[str], set[str]]]:
    """(join keys, child hash-partitioning keys) for both sides of every
    SortMergeJoin/ShuffledHashJoin in a JVM physical plan (the AQE
    initial plan when adaptive)."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    out = []
    stack = [plan]
    while stack:
        node = stack.pop()
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        if node.getClass().getSimpleName() not in (
            "SortMergeJoinExec",
            "ShuffledHashJoinExec",
        ):
            continue
        for side, keys in ((0, node.leftKeys()), (1, node.rightKeys())):
            ks = _keyset(keys)
            for pk in hash_part_keys(ch.apply(side).outputPartitioning()):
                out.append((ks, pk))
    return out


@dataclass(frozen=True)
class _EntryPlans:
    formatted: str  # formatted explain (full PushedFilters/ReadSchema)
    executed: str  # executedPlan().toString()
    joins: list  # _shuffled_join_partitionings of the executed plan


@pytest.fixture(scope="session")
def catalog_plans(spark) -> dict[str, _EntryPlans]:
    """Every catalog entry built ONCE (its eager build-time jobs
    included) for the three catalog-wide plan lints below."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = {}
    for name in sorted(CATALOG):
        qe = CATALOG[name].fn(spark, SF_SMOKE)._jdf.queryExecution()
        plan = qe.executedPlan()
        out[name] = _EntryPlans(
            qe.explainString(mode),
            plan.toString(),
            _shuffled_join_partitionings(plan),
        )
    return out


def test_plan_linter_all_queries(catalog_plans):
    """Sweep every catalog query's physical plan for red flags: row-wise
    Python eval in relational paths and accidental cartesian products.
    ArrowEvalPython is linted too — vectorized scalar UDFs are still
    Python on executors and must be on the sanctioned list."""
    problems = []
    for name, plans in catalog_plans.items():
        plan = plans.formatted
        if name not in _PYTHON_OK:
            for marker in (
                "BatchEvalPython",
                "ArrowEvalPython",
                "FlatMapGroupsInPandas",
                "MapInPandas",
            ):
                if marker in plan:
                    problems.append(f"{name}: {marker}")
        if "CartesianProduct" in plan and "broadcast" not in plan.lower():
            problems.append(f"{name}: un-broadcast CartesianProduct")
    assert not problems, problems


# Queries whose single-partition exchanges carry provably BOUNDED rows
# for a reason the child-is-partial-aggregate rule cannot see. Each
# entry must say why; an unexplained name here is a review failure.
_SINGLE_PARTITION_OK = {
    # the empty-partition renormalization window runs over the
    # per-source aggregate — rows bounded by source cardinality
    "x_source_mixing_weights",
    # the CDF running-sum window runs over the FINAL per-bin aggregate
    # — rows bounded by the fixed 256-bin histogram width
    "x_histogram_quantiles",
    # the global prefix sum's TOP (third) level: the only global window
    # runs over the per-top-group aggregate — one row per
    # 4096·4096·256-doc group, i.e. corpus/2^32 rows (a few hundred even
    # at 10^12 docs). Levels one and two are windows partitioned by
    # their parent key and never see more than 4096 child totals.
    "x_sequence_packing",
}


def test_no_unbounded_single_partition_exchange(catalog_plans):
    """No plan may funnel UNBOUNDED data through Exchange
    SinglePartition — a global row_number/sort over corpus-scale input
    serializes one task (the c_positional_join bug class, fixed in
    round 7; bounded heads plan as TakeOrderedAndProject and need no
    exchange at all). A single-partition exchange is fine when its
    input is provably tiny: a global scalar aggregate ships one
    PARTIAL row per upstream partition (child line shows partial_*),
    and the explicit allowlist covers bounded-cardinality finals.
    Checks the executedPlan string — the formatted explain renders the
    exchange as 'Arguments: SinglePartition', which a naive substring
    lint never matches (found the hard way in round 7)."""
    problems = []
    for name, plans in catalog_plans.items():
        lines = plans.executed.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if "partial_" in child:
                continue  # global agg: one partial row per partition
            if name in _SINGLE_PARTITION_OK:
                continue
            problems.append(f"{name}: Exchange SinglePartition over {child.strip()[:80]!r}")
    assert not problems, problems


def _functions_module_names(tree) -> set[str]:
    """Every local name bound to the pyspark.sql.functions MODULE in this
    file — the conventional F, plus any alias (`from pyspark.sql import
    functions as fn`, `import pyspark.sql.functions as psf`). Taken from
    the file's ACTUAL imports, nothing assumed: an aliased fn.broadcast()
    cannot evade, and a DataFrame variable that merely happens to be
    named F is not silently exempted (round-10 advice)."""
    import ast

    names: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.module == "pyspark.sql":
            for a in n.names:
                if a.name == "functions":
                    names.add(a.asname or a.name)
        elif isinstance(n, ast.Import):
            for a in n.names:
                if a.name == "pyspark.sql.functions":
                    names.add(a.asname or "pyspark.sql.functions")
    names.add("pyspark.sql.functions")  # fully dotted receiver
    return names


def _broadcast_hint_sites(src: str) -> list[tuple[str, int]]:
    """All forced-broadcast call sites in a module source, as
    (enclosing function, lineno). Matches the three spellings: the
    canonical ``F.broadcast(...)``, a DataFrame ``.hint(<broadcast-ish
    string>, ...)``, and a call to a bare ``broadcast`` imported from
    ``pyspark.sql.functions`` (incl. aliases).

    Static-analysis limit: a hint NAME is only classified when the first
    argument is a string literal — ``.hint(h)`` with a variable holding
    'broadcast' cannot be resolved statically. Such non-constant
    ``.hint()`` calls are therefore flagged unconditionally for manual
    review rather than silently passed (round-10 advice)."""
    import ast

    tree = ast.parse(src)
    spans = [
        (n.lineno, n.end_lineno or n.lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    bare_broadcast = {
        (a.asname or a.name)
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        and n.module == "pyspark.sql.functions"
        for a in n.names
        if a.name == "broadcast"
    }
    fmod_names = _functions_module_names(tree)

    def _is_broadcast_call(node: ast.Call) -> bool:
        f = node.func
        if isinstance(f, ast.Attribute):
            if f.attr == "broadcast" and ast.unparse(f.value) in fmod_names:
                return True
            if f.attr == "hint" and node.args:
                a0 = node.args[0]
                if isinstance(a0, ast.Constant) and isinstance(a0.value, str):
                    low = a0.value.lower()
                    return "broadcast" in low or low == "mapjoin"
                # non-constant hint name: unresolvable statically — flag
                # for manual review instead of silently passing
                return True
            return False
        return isinstance(f, ast.Name) and f.id in bare_broadcast

    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _is_broadcast_call(node):
            enc = "<module>"
            enc_lo = -1
            for lo, hi, name in spans:
                if lo <= node.lineno <= hi and lo > enc_lo:
                    enc, enc_lo = name, lo
            out.append((enc, node.lineno))
    return out


def test_broadcast_lint_catches_all_three_spellings():
    """Mutation check for the lint's detector: each evasion spelling the
    r9 ADVICE named must be caught, and lookalikes must not be."""
    src = (
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql import functions as fn\n"
        "import pyspark.sql.functions as psf\n"
        "import pyspark.sql.functions\n"
        "from pyspark.sql.functions import broadcast as bc\n"
        "def f(df, dim):\n"
        "    a = df.join(F.broadcast(dim), 'k')\n"
        "    b = df.join(dim.hint('broadcast'), 'k')\n"
        "    c = df.join(dim.hint('BROADCASTJOIN'), 'k')\n"
        "    d = df.join(dim.hint('mapjoin'), 'k')\n"
        "    e = df.join(bc(dim), 'k')\n"
        "    e2 = df.join(fn.broadcast(dim), 'k')\n"  # module alias
        "    e3 = df.join(psf.broadcast(dim), 'k')\n"  # import-as alias
        "    e4 = df.join(pyspark.sql.functions.broadcast(dim), 'k')\n"
        "    e5 = df.join(dim.hint(hname), 'k')\n"  # non-constant: flagged
        "    f2 = df.hint('shuffle_hash')\n"  # not a broadcast hint
        "    g = df.select(F.first('v'))\n"  # unrelated F function
        "    return a, b, c, d, e, f2, g\n"
    )
    hits = _broadcast_hint_sites(src)
    assert len(hits) == 9, hits
    assert all(enc == "f" for enc, _ in hits)
    # a module that never imports broadcast bare: calls to other names
    # named 'broadcast' via attribute on non-F receivers stay unmatched
    assert _broadcast_hint_sites("def g(x):\n    return x.broadcast()\n") == []


def test_forced_broadcast_sites_are_allowlisted():
    """The SCALE.md forced-broadcast policy as a lint: an explicit
    ``F.broadcast`` hint may only sit on a structurally bounded side —
    bounded by construction, not by expected data. Every call site in the
    package is enumerated by AST walk and must match this allowlist
    exactly, so adding a hint (or moving one) fails here until the new
    site is reviewed against the policy and listed with its bound.
    Sides that scale with the corpus, an ingest batch, a vertex table, a
    vocabulary, near-dup density, or a contamination rate belong to
    statistics/AQE, not on this list (see the r8/r9 unhinting sweeps).

    Besides ``F.broadcast(...)`` the walk also matches the two spellings
    that would otherwise evade the policy (r9 ADVICE): a DataFrame
    ``.hint("broadcast"/"broadcastjoin"/"mapjoin", ...)`` call, and a
    call to a bare ``broadcast`` name imported from
    ``pyspark.sql.functions``. No such sites exist today, so any
    appearance is a new site to review."""
    import ast
    import os

    import sparkwrangle

    # (relpath, enclosing function) -> number of F.broadcast call sites.
    # Bound classes: [agg] 1-row in-plan aggregate; [dim] fixed dimension
    # (nation/region/time_blocks/listings/fx/blocklist); [eval] eval-suite
    # hash set; [sample] bounded sample/boundary table (n_blocks*64 rows,
    # fixed anchor count); [query] bounded query set; [codebook] PQ
    # codebooks / centroids (m*cells or k rows); [sketch] constant-size
    # sketch table (depth*width / registers / bitmap words).
    allow = {
        ("catalog.py", "c_block_range_join"): (1, "dim"),
        ("catalog_ext.py", "x_bloom_decontaminate"): (1, "eval"),
        ("catalog_ext.py", "x_curation_pipeline_end_to_end"): (1, "eval"),
        ("catalog_ext.py", "x_decontaminate"): (1, "eval"),
        ("catalog_ext.py", "x_frequent_pairs"): (1, "agg"),
        ("catalog_ext.py", "x_hll_set_ops"): (3, "sketch"),
        ("catalog_ext.py", "x_ivf_assign"): (1, "codebook"),
        ("catalog_ext.py", "x_negative_sampling"): (1, "sample"),
        ("catalog_ext.py", "x_source_blocklist"): (1, "dim"),
        ("catalog_ext.py", "x_source_mixing_weights"): (1, "agg"),
        ("catalog_ext.py", "x_tfidf_top_terms"): (1, "agg"),
        ("catalog_ext.py", "x_unigram_logprob"): (1, "agg"),
        ("catalog_relational.py", "k6_faithful_ticker_share"): (1, "agg"),
        ("catalog_relational.py", "q_cube_grouping_id"): (1, "agg"),
        ("catalog_relational.py", "q_rank_family"): (1, "dim"),
        ("catalog_relational.py", "q_rollup_revenue"): (1, "dim"),
        ("catalog_relational.py", "tpch_q10_returned_items"): (1, "dim"),
        ("catalog_relational.py", "tpch_q11_shape_important_inventory"): (3, "dim/agg"),
        ("catalog_relational.py", "tpch_q15_top_supplier"): (1, "agg"),
        ("catalog_relational.py", "tpch_q20_shape_excess_suppliers"): (2, "dim"),
        ("catalog_relational.py", "tpch_q22_shape_idle_customers"): (1, "agg"),
        ("catalog_relational.py", "tpch_q5_local_supplier"): (2, "dim"),
        ("catalog_relational.py", "tpch_q7_volume_shipping"): (2, "dim"),
        ("catalog_relational.py", "tpch_q8_market_share"): (3, "dim"),
        ("catalog_relational.py", "tpch_q9_shape_product_profit"): (1, "dim"),
        ("ext/graph.py", "_power_iterations"): (1, "agg"),
        ("ext/graph.py", "pagerank"): (1, "agg"),
        ("ext/similarity.py", "_adc_scored"): (1, "codebook"),
        ("ext/similarity.py", "_pq_assign"): (1, "codebook"),
        ("ext/similarity.py", "assign_cells"): (1, "codebook"),
        ("ext/similarity.py", "cosine_topk"): (1, "query"),
        ("ext/similarity.py", "ivf_cosine_topk"): (1, "query"),
        ("ext/similarity.py", "lsh_cosine_topk"): (2, "query"),
        ("ext/similarity.py", "pq_adc_from_index"): (1, "codebook"),
        ("ext/similarity.py", "pq_adc_topk"): (1, "codebook"),
        ("ext/similarity.py", "pq_encode_long"): (1, "codebook"),
        ("ext/similarity.py", "pq_rerank_topk"): (1, "query"),
        ("ext/sketches.py", "est"): (2, "sketch"),
        ("ext/sketches.py", "histogram_quantiles"): (3, "agg"),
        ("ext/text.py", "bm25_scores"): (1, "agg"),
        ("jobs/report.py", "downsample_series"): (1, "agg"),
        ("ops/joins.py", "block_range_join"): (1, "dim"),
        ("ops/windows.py", "_grouped_global_rank"): (1, "sample"),
        ("ops/windows.py", "grouped_exact_quantiles"): (1, "sample"),
        ("pipelines/intraday.py", "balance_report"): (1, "agg"),
        ("pipelines/intraday.py", "build_intraday_feed"): (3, "dim"),
        ("streaming/curation.py", "curate_stream"): (2, "eval/agg"),
    }

    root = os.path.dirname(sparkwrangle.__file__)
    found: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root).replace(os.sep, "/")
            for enc, _lineno in _broadcast_hint_sites(open(p).read()):
                key = (rel, enc)
                found[key] = found.get(key, 0) + 1

    expected = {k: n for k, (n, _bound) in allow.items()}
    new_sites = {k: v for k, v in found.items() if k not in expected}
    gone_sites = {k: v for k, v in expected.items() if k not in found}
    changed = {
        k: (expected[k], found[k])
        for k in found
        if k in expected and found[k] != expected[k]
    }
    assert not new_sites, (
        f"unreviewed F.broadcast hint(s) {new_sites}: justify the bound "
        "against the SCALE.md policy and add to the allowlist"
    )
    assert not gone_sites and not changed, (
        f"allowlist stale: removed {gone_sites}, changed {changed} - "
        "update the list so it keeps matching reality"
    )


def test_driver_collect_sites_are_allowlisted():
    """No driver-side materialization on a hot path: every ``.collect()``/
    ``.toPandas()``/``.toLocalIterator()``/``.first()``/``.head()``/
    ``.take()`` in the package must be a known site whose result is
    structurally bounded (a report tail, a 1-row aggregate, a capped
    sample, a codebook) — an operator that iterates collect() results is
    not distributed. AST-enumerated like the broadcast lint; a new site
    fails here until reviewed and listed. (first/head/take added per r9
    ADVICE: they materialize to the driver exactly like collect.)"""
    import ast
    import os

    import sparkwrangle

    # (relpath, enclosing function) -> (count, what bounds the result)
    allow = {
        ("jobs/report.py", "write_report_svg"): (1, "downsampled chart points, capped by max_points"),
        ("ops/windows.py", "_quantile_block_expr"): (1, "boundary sample capped at n_blocks*64 rows"),
        ("streaming/replay.py", "stage_replay"): (1, "1-row min/max feed_seq bounds aggregate"),
        ("ext/similarity.py", "collect_codebooks"): (1, "m*cells codebook LUT"),
        ("ext/similarity.py", "pq_adc_from_index"): (1, "m*cells codebook LUT"),
        ("ext/text.py", "bpe_train"): (1, "top-1 pair row per BPE round"),
        ("ext/dedup.py", "_probe_max_key_count"): (1, "1-row max-count aggregate (skew probe)"),
        ("ext/dedup.py", "_span_probe_max_gram_count"): (2, "two 1-row max aggregates (within/cross-doc span probe)"),
    }

    root = os.path.dirname(sparkwrangle.__file__)
    found: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root).replace(os.sep, "/")
            tree = ast.parse(open(p).read())
            spans = [
                (n.lineno, n.end_lineno or n.lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            # F.first(...) is the SQL aggregate/window function, not
            # DataFrame.first() — only DataFrame-method calls materialize
            # to the driver. Exempt by the file's ACTUAL functions-module
            # bindings (F and aliases), same detection as the broadcast
            # lint, so `fn.first(...)` is exempt while a DataFrame
            # variable named F is not (round-10 advice).
            fmod_names = _functions_module_names(tree)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr
                    in ("collect", "toPandas", "toLocalIterator",
                        "first", "head", "take")
                    and not (
                        isinstance(node.func.value, ast.Name)
                        and node.func.value.id in fmod_names
                    )
                ):
                    enc = "<module>"
                    enc_lo = -1
                    for lo, hi, name in spans:
                        if lo <= node.lineno <= hi and lo > enc_lo:
                            enc, enc_lo = name, lo
                    key = (rel, enc)
                    found[key] = found.get(key, 0) + 1

    expected = {k: n for k, (n, _bound) in allow.items()}
    new_sites = {k: v for k, v in found.items() if k not in expected}
    stale = {
        k: (expected.get(k), found.get(k))
        for k in set(expected) | set(found)
        if expected.get(k) != found.get(k) and k in expected
    }
    assert not new_sites, (
        f"unreviewed driver materialization {new_sites}: state what bounds "
        "the result and add to the allowlist"
    )
    assert not stale, f"allowlist stale: {stale}"


_EXECUTOR_ATTRS = (
    "applyInPandas",
    "mapInPandas",
    "applyInArrow",
    "mapInArrow",
    "applyInPandasWithState",
    "transformWithStateInPandas",
    "mapPartitions",
    "flatMap",
    "foreachBatch",
    "foreach",
    "foreachPartition",
    "pandas_udf",
    "udf",
)


def _executor_entry_sites(src: str) -> list[tuple[str, str, int]]:
    """All Python-on-executor entry points in a module source, as
    (enclosing function, api, lineno). Matches attribute and bare-name
    calls of _EXECUTOR_ATTRS, ``spark.udf.register(...)``, and BARE
    ``@udf`` / ``@pandas_udf`` decorators (Name nodes, not Calls)."""
    import ast

    tree = ast.parse(src)
    spans = [
        (n.lineno, n.end_lineno or n.lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]

    def _enclosing(lineno: int) -> str:
        enc, enc_lo = "<module>", -1
        for lo, hi, name in spans:
            if lo <= lineno <= hi and lo > enc_lo:
                enc, enc_lo = name, lo
        return enc

    out = []
    for node in ast.walk(tree):
        api = None
        if isinstance(node, ast.Call):
            if (
                isinstance(node.func, ast.Attribute)
                and node.func.attr in _EXECUTOR_ATTRS
            ):
                api = node.func.attr
            elif isinstance(node.func, ast.Name) and node.func.id in _EXECUTOR_ATTRS:
                api = node.func.id
            # spark.udf.register(...) registers a Python UDF too
            elif (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "register"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "udf"
            ):
                api = "udf.register"
        # a BARE @udf / @pandas_udf / @F.udf decorator is a Name or an
        # Attribute, not a Call — scan decorator lists so it cannot evade
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for dec in node.decorator_list:
                if isinstance(dec, ast.Name) and dec.id in ("udf", "pandas_udf"):
                    out.append((node.name, dec.id, node.lineno))
                elif isinstance(dec, ast.Attribute) and dec.attr in (
                    "udf",
                    "pandas_udf",
                ):
                    out.append((node.name, dec.attr, node.lineno))
        if api is not None:
            out.append((_enclosing(node.lineno), api, node.lineno))
    return out


def test_executor_lint_catches_evasion_spellings():
    """Mutation check for the executor-lint detector: bare decorators,
    bare-name calls, udf.register, and foreach must all be caught."""
    src = (
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql.functions import udf, pandas_udf\n"
        "@udf\n"
        "def a(x):\n"
        "    return x\n"
        "@pandas_udf('double')\n"
        "def b(s):\n"
        "    return s\n"
        "@F.udf\n"
        "def a2(x):\n"
        "    return x\n"
        "def c(df, spark):\n"
        "    spark.udf.register('f', a)\n"
        "    df.foreach(print)\n"
        "    df.rdd.foreachPartition(print)\n"
        "    df.mapInArrow(a, 'x long')\n"
        "    g = udf(lambda x: x)\n"
        "    return g\n"
    )
    hits = {(enc, api) for enc, api, _ in _executor_entry_sites(src)}
    assert hits == {
        ("a", "udf"),  # bare decorator (attributed to the function)
        ("a2", "udf"),  # bare ATTRIBUTE decorator @F.udf
        # a CALLED decorator is a Call on the decorator line, which sits
        # above the def — it attributes to the surrounding scope, which
        # is how the package allowlist records functions.py's template
        ("<module>", "pandas_udf"),
        ("c", "udf.register"),
        ("c", "foreach"),
        ("c", "foreachPartition"),
        ("c", "mapInArrow"),
        ("c", "udf"),  # bare-name call
    }, hits
    # lookalikes stay unmatched: a method named register on a non-udf
    # receiver, and an unrelated decorator
    clean = "def h(m):\n    m.codec.register('x')\n    return m\n"
    assert _executor_entry_sites(clean) == []


def test_python_on_executor_sites_are_allowlisted():
    """SCALE.md's 'Python executes on executors in exactly these places'
    claim as a lint: every Arrow/Python executor entry point in the
    package (applyInPandas / mapInPandas / *WithState* / pandas_udf /
    udf — incl. bare decorators and spark.udf.register — /
    mapPartitions / flatMap / foreach / foreachPartition /
    foreachBatch) must be a listed site
    whose rationale is one of: inherently sequential state (the trade
    state machines), binary decode (multimodal), per-group vectorized
    numerics built-ins cannot express (GEMM, Lloyd), a data-dependent
    per-batch sink, or the sanctioned UDF template. Anything new fails
    here until reviewed — built-in Catalyst expressions are the default
    and UDFs the exception, not the reverse."""
    import ast
    import os

    import sparkwrangle

    # (relpath, enclosing function, api) -> (count, why Python is needed)
    allow = {
        ("functions.py", "<module>", "pandas_udf"): (1, "sanctioned scalar-UDF template, equivalence test-pinned"),
        ("streaming/ann_serving.py", "serve_ann_stream", "foreachBatch"): (1, "per-batch data-dependent LUT broadcast + idempotent partition overwrite"),
        ("streaming/trader_stream.py", "streaming_backtest_trades", "applyInPandasWithState"): (1, "sequential trader state machine (streaming twin)"),
        ("streaming/trader_stream.py", "streaming_backtest_balances", "applyInPandasWithState"): (1, "sequential trader state machine (streaming twin)"),
        ("streaming/trader_tws.py", "tws_backtest_trades", "transformWithStateInPandas"): (1, "sequential trader state machine (Spark 4 tws twin)"),
        ("ext/multimodal.py", "decode_features", "mapInPandas"): (1, "binary decode, Arrow-batched"),
        ("ext/multimodal.py", "sample_frames", "mapInPandas"): (1, "binary decode (video stub), Arrow-batched"),
        ("ext/multimodal.py", "decode_png_features", "mapInPandas"): (1, "binary decode, Arrow-batched"),
        ("ext/multimodal.py", "decode_jpeg_features", "mapInPandas"): (1, "binary decode, Arrow-batched"),
        ("ext/multimodal.py", "resize_features", "mapInPandas"): (1, "binary decode + resample, Arrow-batched"),
        ("ext/multimodal.py", "audio_features", "mapInPandas"): (1, "binary decode + DSP, Arrow-batched"),
        ("ext/multimodal.py", "_payload_table", "pandas_udf"): (1, "deterministic payload synthesis for the pointer table"),
        ("ext/similarity.py", "embedding_neardup_pairs_gemm", "applyInPandas"): (1, "per-block numpy GEMM - no built-in matmul"),
        ("ext/similarity.py", "lsh_band_buckets_vectorized", "pandas_udf"): (1, "vectorized hyperplane dot - measured 3x over fold HOF"),
        ("ext/similarity.py", "pq_codebooks", "applyInPandas"): (1, "per-subspace Lloyd iterations on a bounded sample"),
        ("stateful/pairs_scan.py", "pairs_trade_scan", "applyInPandas"): (1, "sequential pair-scan state machine"),
        ("stateful/trader.py", "backtest_trades", "applyInPandas"): (1, "sequential trader state machine"),
        ("stateful/trader.py", "backtest_trades_ledger", "applyInPandas"): (1, "sequential trader state machine"),
        ("stateful/trader.py", "backtest_balances", "applyInPandas"): (1, "sequential trader state machine"),
        ("stateful/trader.py", "_block_trades_local", "applyInPandas"): (1, "sequential trader state machine, relaxed per-(company, block) scope"),
        ("stateful/trader.py", "_block_balances_local", "applyInPandas"): (1, "sequential trader state machine, relaxed per-(company, block) scope"),
        ("stateful/trader.py", "_combined_local", "applyInPandas"): (1, "sequential trader state machine, faithful or relaxed scope — ONE pass emitting trades + balances as a tagged union, so intraday_backtest runs the trader once for both outputs"),
    }

    root = os.path.dirname(sparkwrangle.__file__)
    found: dict[tuple[str, str, str], int] = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root).replace(os.sep, "/")
            for enc, api, _lineno in _executor_entry_sites(open(p).read()):
                key = (rel, enc, api)
                found[key] = found.get(key, 0) + 1

    expected = {k: n for k, (n, _why) in allow.items()}
    new_sites = {k: v for k, v in found.items() if k not in expected}
    stale = {
        k: (expected.get(k), found.get(k))
        for k in set(expected) | set(found)
        if k in expected and expected.get(k) != found.get(k)
    }
    assert not new_sites, (
        f"unreviewed Python-on-executor site(s) {new_sites}: built-ins "
        "first; if Python is genuinely required, state why and allowlist"
    )
    assert not stale, f"allowlist stale: {stale}"


def test_checkpoint_sites_are_allowlisted():
    """Every ``localCheckpoint`` is an eager job plus executor storage,
    so each site must name what it materializes and why: per-round
    iterative artifacts (vertex/vocab-sized), multi-consumer stage
    outputs that would otherwise replay an expensive subtree (the
    cluster-scale form is a staged table write), bounded top-k/report
    rows, or an index-build artifact standing in for a persisted write.
    ``cache``/``persist`` are banned outright (measured slower than
    whole-stage pipelines here, and state dies with the session —
    see ext/prepared.py). New sites fail until reviewed."""
    import ast
    import os

    import sparkwrangle

    # (relpath, enclosing function) -> (count, what is materialized)
    allow = {
        ("catalog_ext.py", "x_stream_ann_batch_twin"): (2, "index-build artifacts: codebooks (m*K rows) + narrow code table - stands in for the persisted index write"),
        ("catalog_ext.py", "x_curation_pipeline_end_to_end"): (1, "quality-pruned survivor set, consumed by LSH + CC + final join - staged-table stand-in"),
        ("catalog_ext.py", "x_pagerank_centrality"): (1, "per-round rank vector, vertex-sized"),
        ("catalog_relational.py", "q_rank_family"): (1, "top-5 per event_type, bounded"),
        ("ext/dedup.py", "connected_components"): (3, "edge list once + per-round label vector, vertex-sized"),
        ("ext/dedup.py", "lsh_verified_pairs"): (1, "LSH candidate pair list, candidate-sized"),
        ("ext/dedup.py", "prefix_filter_pairs"): (2, "rarest-first ranked stream (distinct shingles + pos/sz) feeding both self-join sides AND the exact-verify member sets + candidate pairs"),
        ("ext/dedup.py", "edit_distance_pairs"): (1, "q-gram candidate pairs, candidate-sized"),
        ("ext/graph.py", "pagerank"): (1, "static vertex table once, vertex-sized"),
        ("ext/graph.py", "_power_iterations"): (1, "per-round rank vector, vertex-sized"),
        ("ext/similarity.py", "pq_adc_topk"): (1, "trained codebook, m*K rows"),
        ("ext/text.py", "bpe_train"): (2, "per-round merge row + per-round symbol table, vocab-sized"),
        ("pipelines/intraday.py", "intraday_backtest"): (1, "combined local pass of either scope, faithful or relaxed (ticks + trades rows — the relation the operator produces anyway); the lineage break is what lets both outputs and every report read share ONE applyInPandas execution"),
    }

    root = os.path.dirname(sparkwrangle.__file__)
    found: dict[tuple[str, str], int] = {}
    banned: list[str] = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root).replace(os.sep, "/")
            tree = ast.parse(open(p).read())
            spans = [
                (n.lineno, n.end_lineno or n.lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                ):
                    continue
                if node.func.attr in ("cache", "persist"):
                    banned.append(f"{rel}:{node.lineno} .{node.func.attr}()")
                elif node.func.attr in ("localCheckpoint", "checkpoint"):
                    enc = "<module>"
                    enc_lo = -1
                    for lo, hi, name in spans:
                        if lo <= node.lineno <= hi and lo > enc_lo:
                            enc, enc_lo = name, lo
                    key = (rel, enc)
                    found[key] = found.get(key, 0) + 1

    assert not banned, f"cache/persist banned in the package: {banned}"
    expected = {k: n for k, (n, _what) in allow.items()}
    new_sites = {k: v for k, v in found.items() if k not in expected}
    stale = {
        k: (expected.get(k), found.get(k))
        for k in set(expected) | set(found)
        if k in expected and expected.get(k) != found.get(k)
    }
    assert not new_sites, (
        f"unreviewed checkpoint site(s) {new_sites}: name the materialized "
        "artifact and its bound, then allowlist"
    )
    assert not stale, f"allowlist stale: {stale}"


def _shuffle_partition_conf_sites(src: str) -> list[tuple[str, int]]:
    """Every ``<x>.conf.set(...)`` call in a module source that writes
    ``spark.sql.shuffle.partitions``, as (enclosing function, lineno).
    A non-constant key cannot be resolved statically and is flagged for
    review, like the broadcast lint's non-constant hint names."""
    import ast

    tree = ast.parse(src)
    spans = [
        (n.lineno, n.end_lineno or n.lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for node in ast.walk(tree):
        f = getattr(node, "func", None)
        if not (
            isinstance(node, ast.Call)
            and isinstance(f, ast.Attribute)
            and f.attr == "set"
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "conf"
            and node.args
        ):
            continue
        key = node.args[0]
        if isinstance(key, ast.Constant) and key.value != "spark.sql.shuffle.partitions":
            continue
        enc, enc_lo = "<module>", -1
        for lo, hi, name in spans:
            if lo <= node.lineno <= hi and lo > enc_lo:
                enc, enc_lo = name, lo
        out.append((enc, node.lineno))
    return out


def test_shuffle_partition_conf_writes_are_allowlisted():
    """Operators must not write the session-global shuffle-partition
    count themselves: a concurrent query or streaming micro-batch on the
    same session plans with it. The writes are ``prep_session``'s clamp
    of a foreign session's default and the one eager-phase window,
    ``session.eager_partitions`` (safe parse, locked, restored); every
    operator sizes its eager phase through that window. New sites fail
    until reviewed."""
    import os

    import sparkwrangle

    src = (
        "def f(spark, df, k):\n"
        "    spark.conf.set('spark.sql.shuffle.partitions', '8')\n"
        "    df.sparkSession.conf.set('spark.sql.shuffle.partitions', 3)\n"
        "    spark.conf.set(k, '8')\n"  # non-constant key: flagged
        "    spark.conf.set('spark.sql.ansi.enabled', 'false')\n"
        "    spark.conf.get('spark.sql.shuffle.partitions')\n"
    )
    assert _shuffle_partition_conf_sites(src) == [("f", 2), ("f", 3), ("f", 4)]

    allow = {
        ("session.py", "prep_session"): 1,  # clamp of a foreign 200 default
        ("session.py", "eager_partitions"): 2,  # the window: set + restore
    }
    root = os.path.dirname(sparkwrangle.__file__)
    found: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                rel = os.path.relpath(p, root).replace(os.sep, "/")
                for enc, _lineno in _shuffle_partition_conf_sites(open(p).read()):
                    found[(rel, enc)] = found.get((rel, enc), 0) + 1
    assert found == allow, f"unreviewed shuffle-partition conf writes: {found}"


# Subset keys a co-partitioned join may legally accept (session.py sets
# spark.sql.requireAllClusterKeysForCoPartition=false): each must be a
# HIGH-CARDINALITY entity key, because the accepted subset becomes the
# join's effective key space — a constant or near-constant subset key
# would collapse every row onto a handful of partitions at scale, and
# the downstream window that inherits the narrow clustering is NOT
# covered by AQE skew-splitting (joins are, windows are not). The r13
# audit found exactly two families using the rule: the EP2 feed's
# grid⋈bars join on hash(company, block_id) and the recall audit's
# pair-key full-outer on hash(id_a); both keys are per-entity/per-doc.
_SUBSET_COPARTITION_OK = {
    "company",  # per-ticker entity key (EP2 grid⋈bars)
    "block_id",  # time-block within company — multiplies company's space
    "user_id",  # per-user feeds (S1/S2 families)
    "doc_id",  # per-document dedup keys
    "id_a",  # pair-list endpoint (doc-id-valued)
    "id_b",  # pair-list endpoint (doc-id-valued)
}


def test_subset_copartitioned_joins_use_high_cardinality_keys(catalog_plans):
    """Every SortMergeJoin/ShuffledHashJoin child whose hash partitioning
    is a PROPER subset of the join keys must be partitioned on
    high-cardinality keys only (allowlist above). Walks the JVM plan
    tree (AQE initialPlan) rather than the explain text so the child's
    effective output partitioning — possibly inherited through
    windows/joins several operators up — is read from the same property
    EnsureRequirements consulted."""
    problems = []
    for name, plans in catalog_plans.items():
        for ks, pk in plans.joins:
            if pk and pk < ks and not pk <= _SUBSET_COPARTITION_OK:
                problems.append(
                    f"{name}: join on {sorted(ks)} accepts subset "
                    f"co-partitioning on {sorted(pk)} — low-"
                    "cardinality subset keys collapse the key "
                    "space at scale; allowlist only if the key "
                    "is per-entity"
                )
    assert not problems, problems


def test_hash_part_keys_keeps_nested_keys_whole(spark):
    """A hash key that is itself a call with arguments is one key. The
    old regex parse of ``hashpartitioning(...)`` stopped at the first
    ``)`` and dropped the last argument, reading this partitioning as
    {'xxhash64(a', 'b'}."""
    from pyspark.sql import functions as F

    df = spark.range(8).select(F.col("id").alias("a"), (F.col("id") % 2).alias("b"))
    plan = df.repartition(4, F.xxhash64("a", "b"))._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    assert hash_part_keys(plan.outputPartitioning()) == [{"xxhash64(a, b, 42)"}]
