"""Query registry — single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 (and every beyond-reference
training-data op) registers here with:

- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an equivalent ANSI-SQL oracle string for DuckDB (or ``None`` for
  genuinely non-SQL-expressible ops, which the driver checks rows-only)

``__spark_entry__.py``, ``bench.py`` and the pytest oracle harness all
read from this registry, so a query is implemented exactly once.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# The driver's correctness gate checks the FIRST 50 queries in ``queries()``
# order. Registration order follows module import order, which clusters by
# family — so a naive ordering leaves whole families (tpch, text, ANN,
# timeseries, merge) outside the checked window. This curated prefix pulls
# ≥1 representative of every family into the window; everything not listed
# follows in registration order and is still covered by the pytest
# full-gate twin (tests/test_oracle_parity.py) and tools/driver_sim.py.
_CURATED_FIRST: tuple[str, ...] = (
    # Window policy (round 7 onward, ledger closed): the driver-witness
    # union over rounds 1-6 covers EVERY oracled registry query
    # (161/161 green, CORRECTNESS_r01-r06), so the window now holds the
    # 25 frozen bench anchors (all nine round-6 rotations restored, per
    # the round-6 note) followed by the newest queries — each round's
    # additions and upgrades get their independent driver witness
    # first, then previously-witnessed queries flow in registration
    # order. Bench comparability is unaffected: the bench set is frozen
    # in bench_queries() via the ``bench=True`` flag, independent of
    # this correctness ordering.
    # ---- the 25 frozen bench anchors:
    "wordcount", "q1_pricing_summary", "q3_top_orders",
    "q5_region_revenue", "q6_revenue_delta", "dedup_exact",
    "sessionize_users", "asof_join_latest_order", "hourly_event_stats",
    "mapreduce_api_wordcount", "mapreduce_api_eventfilter",
    "sq8_ann_topk", "scd2_upsert",
    "q21_waiting_suppliers", "q2_min_cost_supplier", "q9_profit_by_nation",
    "quality_scores", "repetition_signals",
    "cosine_topk", "ivf_topk", "minhash_lsh_pairs",
    "phrases_demo", "q18_large_orders",
    "simhash_fingerprints", "decontaminate_overlap",
    # ---- then the rotation block, appended below (_ROTATION_RESERVED).
)

# Rotation slots that later additions may never displace
# (VERDICT r11 ask #1 + ADVICE; tests/test_registry.py enforces both
# membership in the checked window and a minimum size of 3). Refreshed
# from `tools/witness_ledger.py`: every slot of the previous block has a
# green CORRECTNESS_r15 row, so the block now holds the whole r4-era tail
# (13 names, gap 11 against r15, deferred here once already) plus 12
# family-diverse r5-era picks (gap 10); the other 12 r5-era names are
# deferred to _NEXT_ROTATION.
_ROTATION_RESERVED: tuple[str, ...] = (
    # r4 era
    "footer_stats_orders", "jpeg_progressive_color_decode",
    "mp3_decode_meta", "q12_late_shipment_priority",
    "q13_order_count_distribution", "q22_idle_customers",
    "q4_order_priority", "q7_nation_volume", "q8_market_share",
    "streaming_hourly_replay", "streaming_sessionize_replay",
    "text_dedup_keepers", "winnow_doc_fingerprints",
    # r5 era: layout, analytics, jpeg, audio, video, sampling, text,
    # ANN, streaming join, tpch subquery, graph dedup, and q20 (whose
    # plan changed in round 15)
    "sorted_layout_scan", "customer_balance_quartiles",
    "jpeg_decode_meta", "wav_decode_meta", "mp4_decode_meta",
    "stratified_sample_by_lang", "token_stats_corpus",
    "ann_sign_lsh_topk", "streaming_conversion_join_replay",
    "q15_top_supplier", "dedup_clusters", "q20_promotion_suppliers",
)
_CURATED_FIRST += _ROTATION_RESERVED

# Pre-named NEXT-round rotation picks (VERDICT r13 ask #2: make the
# staleness ratchet green at every snapshot WITHOUT losing its teeth).
# These are next-window OBLIGATIONS, not exemptions forever: the
# staleness guard (tests/test_registry.py::test_witness_staleness_bounded)
# lets a name listed here run at most ONE round past
# MAX_STALENESS_ROUNDS; past that it must actually sit in the driver
# window or the suite hard-fails. Current picks: the 12 r5-era names
# (gap 10 against r15) that did not fit the rotation block above.
_NEXT_ROTATION: tuple[str, ...] = (
    "orc_roundtrip", "compaction_roundtrip", "wav_pcm_features",
    "aac_decode_meta", "top_tokens", "corpus_filter_pipeline",
    "token_rarity_scores", "deterministic_sample_10pct",
    "global_shuffle_shards", "q17_small_quantity_revenue",
    "q16_supplier_part_counts", "bpe_token_stats",
)


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, description=description,
            bench=bench, tags=tuple(tags),
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import query modules lazily to avoid import cycles; they self-register.
    from appengine_mapreduce_spark.plans import (  # noqa: F401
        queries_api,
        queries_mr,
        queries_analytics,
        queries_analytics2,
        queries_dedup,
        queries_dedup2,
        queries_dynamic,
        queries_files,
        queries_layout,
        queries_merge,
        queries_misc,
        queries_misc2,
        queries_misc3,
        queries_ops,
        queries_pipeline,
        queries_pipeline2,
        queries_sampling,
        queries_similarity,
        queries_sql,
        queries_streaming,
        queries_tpch3,
        queries_tpch4,
        queries_tpch5,
        queries_text,
        queries_text2,
        queries_text3,
        queries_timeseries,
    )

    missing = [n for n in _CURATED_FIRST if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"curated window references unknown queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in _CURATED_FIRST}
    ordered.update((n, s) for n, s in _REGISTRY.items() if n not in ordered)
    return ordered


def bench_queries() -> dict[str, QuerySpec]:
    return {k: v for k, v in all_queries().items() if v.bench}


_SCALAR = (int, float, str, bool, bytes, type(None))


def _canon_value(v: object) -> str | None:
    """Canonical repr of a closure/default value for fingerprinting, or
    None to skip. Scalars (and all-scalar tuples, whose repr is already
    deterministic — kept on the repr fast path for digest compatibility
    with earlier rounds) repr directly; dicts/lists/sets/frozensets and
    mixed tuples canonicalize recursively with sorted keys/elements, so
    insertion order and per-process hash order never leak into the
    digest (a factory parameterized by a recipe dict — e.g. an
    epochs_permyriad mapping — must change the fingerprint when the
    dict changes, and must NOT change it when only ordering does; the
    scalar-only scan silently skipped containers entirely — ADVICE
    r12, tightened for nested containers by the round-13 review).
    A container holding any un-canonicalizable element (callable,
    module, DataFrame…) is skipped WHOLE — a bare repr there would
    embed a memory address and make the fingerprint differ every
    process. Callables etc. themselves stay skipped: their identity is
    environment-dependent and their LOGIC is already covered by
    getsource of the plan function that calls them."""
    if isinstance(v, _SCALAR):
        return repr(v)
    if isinstance(v, tuple) and all(isinstance(x, _SCALAR) for x in v):
        return repr(v)
    if isinstance(v, dict):
        # sort by the CANONICALIZED key, not raw repr: a frozenset used
        # as a dict key (or nested inside one) has per-process repr
        # order under PYTHONHASHSEED randomization — exactly the
        # nondeterminism this function exists to prevent (ADVICE r13).
        # For scalar keys canon == repr, so the common-case ordering is
        # unchanged.
        parts = [(_canon_value(k), _canon_value(x)) for k, x in v.items()]
        if any(a is None or b is None for a, b in parts):
            return None
        parts.sort(key=lambda ab: ab[0])  # type: ignore[arg-type,return-value]
        return "{" + ",".join(f"{a}:{b}" for a, b in parts) + "}"
    if isinstance(v, (list, tuple, set, frozenset)):
        parts = [_canon_value(x) for x in v]
        if any(p is None for p in parts):
            return None
        if isinstance(v, (set, frozenset)):
            # unordered: sort by canonical form (repr would leak
            # per-process hash order for nested containers)
            parts.sort()  # type: ignore[arg-type]
        return "[" + ",".join(parts) + "]"  # type: ignore[arg-type]
    return None


def _fn_fingerprint_src(fn: QueryFn) -> str:
    """Source text + canonicalized closure/default parameters — the
    per-query payload :func:`registry_fingerprint` digests."""
    import inspect

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):  # builtins / dynamically built fns
        src = repr(fn)
    extras = []
    for cell in fn.__closure__ or ():
        try:
            v = cell.cell_contents
        except ValueError:  # empty cell
            continue
        c = _canon_value(v)
        if c is not None:
            extras.append(c)
    for v in fn.__defaults__ or ():
        c = _canon_value(v)
        if c is not None:
            extras.append(c)
    return src + "|" + "|".join(extras)


def registry_fingerprint() -> str:
    """Stable 12-hex-digit digest of the registry CONTENT: sorted names,
    each query's oracle TEXT (not just presence — editing an oracle must
    invalidate sweeps, per ADVICE r10), and a digest of the plan
    function's source PLUS any closure/default parameters (scalars AND
    dict/list recipes — ADVICE r12). Closure values matter (round-12
    review finding): a factory-built query like
    ``_temperature_query(0.25, 2500, "temp25")`` has byte-identical
    ``getsource`` for every parameterization, so without the cell
    contents a Spark-side parameter edit would be mechanically
    undetectable. Artifacts that sweep the whole registry
    (PLAN_AUDIT.md, PARITY_r*.md) embed the digest so a sweep generated
    against an older registry — renamed, added, OR logic-edited — is
    detectable as stale; tests compare the embedded value against the
    live one."""
    import hashlib

    surface = "\n".join(
        f"{n}:{hashlib.md5((s.oracle or 'rows-only').encode()).hexdigest()}"
        f":{hashlib.md5(_fn_fingerprint_src(s.fn).encode()).hexdigest()}"
        for n, s in sorted(all_queries().items())
    )
    return hashlib.md5(surface.encode()).hexdigest()[:12]
