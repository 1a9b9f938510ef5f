"""M2 Bloom pre-filter: ``bloom_filter_agg`` / ``might_contain`` columns.

Reference analogue: the Apache-derived Bloom filter used as a cheap
membership pre-check (``util/bloom/Apache/BloomFilter.java:153-232``; SURVEY
§2.6 lists this as the optional pre-filter — exact band-key equi-joins make
it unnecessary for correctness, so it is purely a scan-reduction device).

Spark ships the exact machinery as the Catalyst expressions behind its
runtime row-level bloom join (``BloomFilterAggregate`` /
``BloomFilterMightContain``), but does not register them as public SQL
functions in this build — so this module constructs the expressions
directly:

* the filter is **built distributed** (partial aggregation over the keyed
  DataFrame, merged like any aggregate);
* only the finished filter bytes come back to the driver (bounded:
  ``m/8`` bytes, sized with the classic ``m = −n·ln p / ln²2`` — the same
  formula the reference uses, ``BloomFilter.java:611-619``) and re-enter
  the plan as a **binary literal**, which is the "constant or scalar
  subquery" shape ``BloomFilterMightContain`` requires;
* the membership probe then runs JVM-side inside whole-stage codegen —
  no Python anywhere.

Probe keys must be LongType (use ``F.xxhash64`` upstream — band keys
already are).  Both helpers degrade gracefully: if the internal classes
move in a future Spark, ``bloom_build`` returns ``None`` and the
pre-filter is skipped (it is an optimization, never a correctness
dependency).

Operators never call those primitives directly: :func:`bloom_prefilter`
is the one entry point.  It owns the plan decision (a size floor plus
build support) and the mechanics (sizing count, build, probe, fallback to
the unfiltered rows), so every pre-filtered operator takes the same
decision from its input and has no caller-settable override.
"""

from __future__ import annotations

import logging
import math
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession

_LN2_SQ = math.log(2.0) ** 2
MAX_BITS = 1 << 27  # 16 MiB filter cap (mirrors Spark's runtime-filter cap)

#: inputs estimated below this take the plain plan — the bloom pre-filters
#: pay a few fixed stages (second agg pass, filter build, sizing count)
#: that cost more than the whole query on tiny corpora (measured:
#: duplicate_span_stats 0.55 s → 2.2 s at sf0.1's 5k docs for zero
#: shuffle saved), while at 200k docs the same filter cut shuffle writes
#: 47%.  32 MB sits well between those two regimes.
AUTO_PREFILTER_MIN_BYTES = 32 * 1024 * 1024

_log = logging.getLogger(__name__)
_warned: set[str] = set()


def _warn_once(site: str, exc: Exception) -> None:
    """A real failure (driver OOM, analysis error, moved internals) must not
    silently downgrade every caller to the unfiltered join forever — log the
    first occurrence per site so operators can tell the pre-filter is dead."""
    if site not in _warned:
        _warned.add(site)
        _log.warning(
            "bloom pre-filter disabled (%s): %s: %s — falling back to the "
            "unfiltered join; this optimization will stay off for this "
            "process", site, type(exc).__name__, exc,
        )


def bloom_supported(spark: SparkSession) -> bool:
    """Probe (construct, never execute) the internal Catalyst expressions so
    callers can skip sizing work (e.g. a ``count()`` job) on Spark builds
    where the pre-filter cannot be built at all."""
    try:
        from pyspark.sql.classic.column import Column as CCol  # noqa: F401

        df = spark.range(1)
        jvm, eu = _expr_utils(df)
        parser = df.sparkSession._jsparkSession.sessionState().sqlParser()
        jvm.org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            df["id"]._jc.node().expression(),
            parser.parseExpression("1L"),
            parser.parseExpression("64L"),
        )
        jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
        return True
    except Exception as exc:  # noqa: BLE001
        _warn_once("bloom_supported", exc)
        return False


def optimal_bits(expected_items: int, fpp: float) -> int:
    """Classic Bloom sizing ``m = −n·ln p / ln²2`` (reference
    ``BloomFilter.java:611-619``), clamped to [64, MAX_BITS]."""
    n = max(int(expected_items), 1)
    m = int(math.ceil(-n * math.log(fpp) / _LN2_SQ))
    return max(64, min(m, MAX_BITS))


def _expr_utils(df: DataFrame):
    jvm = df.sparkSession._jvm
    return jvm, jvm.org.apache.spark.sql.classic.ExpressionUtils


def bloom_build(
    df: DataFrame,
    key_col: str,
    expected_items: int,
    fpp: float = 0.001,
) -> bytes | None:
    """Distributed bloom_filter_agg over ``df[key_col]`` (LongType) →
    serialized filter bytes, or ``None`` if the internal expressions are
    unavailable."""
    try:
        from pyspark.sql.classic.column import Column as CCol

        jvm, eu = _expr_utils(df)
        parser = df.sparkSession._jsparkSession.sessionState().sqlParser()
        n_bits = optimal_bits(expected_items, fpp)
        agg = jvm.org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            df[key_col]._jc.node().expression(),
            parser.parseExpression(f"{max(int(expected_items), 1)}L"),
            parser.parseExpression(f"{n_bits}L"),
        )
        out = df.agg(CCol(eu.column(agg.toAggregateExpression())).alias("bf"))
        raw = out.collect()[0]["bf"]
        return bytes(raw) if raw is not None else None
    except Exception as exc:  # noqa: BLE001 — optional optimization, never fatal
        _warn_once("bloom_build", exc)
        return None


def might_contain(df: DataFrame, key_col: str, bloom: bytes) -> Column | None:
    """Codegen'd membership predicate ``might_contain(<bloom>, df[key_col])``
    with the filter embedded as a binary literal.  ``None`` on failure —
    callers must treat the pre-filter as optional."""
    try:
        from pyspark.sql.classic.column import Column as CCol

        jvm, eu = _expr_utils(df)
        lit = jvm.org.apache.spark.sql.catalyst.expressions.Literal.create(
            bloom, jvm.org.apache.spark.sql.types.DataTypes.BinaryType
        )
        mc = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            lit, df[key_col]._jc.node().expression()
        )
        return CCol(eu.column(mc))
    except Exception as exc:  # noqa: BLE001
        _warn_once("might_contain", exc)
        return None


def auto_prefilter_enabled(df: DataFrame) -> bool:
    """The engine's pre-filter plan decision for an operator over ``df``:
    take the bloom plan unless the input is POSITIVELY estimated below
    :data:`AUTO_PREFILTER_MIN_BYTES` (unknown size ⇒ assume large, keep
    the scale path on) or this Spark build cannot construct the filter
    (probed before any sizing job is paid for)."""
    from ..session import estimated_plan_bytes

    est = estimated_plan_bytes(df)
    if est is not None and est < AUTO_PREFILTER_MIN_BYTES:
        return False
    return bloom_supported(df.sparkSession)


def _filter_by_bloom(
    probe: DataFrame, keys: DataFrame, key_col: str
) -> DataFrame:
    """Rows of ``probe`` whose LongType ``key_col`` might occur in
    ``keys[key_col]``: one sizing ``count()``, a distributed build over
    ``keys``, and a map-side ``might_contain`` on ``probe``.  FPs are
    harmless (the caller's equi-join stays exact); an empty key set or a
    failed build/probe returns ``probe`` unfiltered."""
    n = keys.count()
    if not n:
        return probe
    bloom = bloom_build(keys, key_col, expected_items=n)
    if bloom is None:
        return probe
    pred = might_contain(probe, key_col, bloom)
    return probe if pred is None else probe.filter(pred)


def bloom_prefilter(
    df: DataFrame,
) -> Callable[[DataFrame, DataFrame, str], DataFrame] | None:
    """The one bloom pre-filter entry point, decided from ``df`` (the
    input whose size the plan choice rests on).

    ``None`` ⇒ take the plain plan.  Otherwise a function
    ``(probe, keys, key_col) → probe rows whose key might be in keys``
    that drops non-matching rows map-side, before the caller's join
    shuffle (reference ``BloomFilter.java:153-232``: a membership
    pre-check in front of an exact lookup).  The decision comes first so
    a caller can defer costly key-side work to the bloom plan."""
    return _filter_by_bloom if auto_prefilter_enabled(df) else None
