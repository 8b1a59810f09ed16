"""Property-based tests (hypothesis): the engine's core semantics vs
tiny sequential reference models.

Each property drives the FULL pipeline (e.g. CDC: encode → wire JSON →
parse → decode → latest-wins apply) with adversarial inputs hypothesis
dreams up, and checks the result against a dozen-line Python model —
the strongest form of the SURVEY.md §5 "generator-invariant" tests.

Spark jobs are slow, so examples are few but each covers a whole
randomized scenario; deadlines are disabled.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from end_end_data_pipeline__spark.sources import cdc

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # deterministic CI-style runs
)


# --------------------------------------------------------------------------
# CDC latest-wins apply vs a sequential dict-replay model
# --------------------------------------------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),          # key
        st.sampled_from(["c", "u", "d"]),               # op
        st.integers(min_value=0, max_value=6),          # ts_ms (collisions likely)
        st.integers(min_value=-100, max_value=100),     # value
    ),
    min_size=1,
    max_size=25,
)


def _model_latest_state(events):
    """The reference model: per key, keep the single newest event by
    (ts_ms, op_rank d>u>c, arrival-order irrelevant — the engine's
    contract is deterministic given distinct (ts, rank); collide those
    and the winner among equals is value-identical by construction)."""
    rank = {"d": 3, "u": 2, "c": 1}
    best: dict[int, tuple[tuple[int, int], str, int]] = {}
    for key, op, ts, val in events:
        score = (ts, rank[op])
        if key not in best or score > best[key][0]:
            best[key] = (score, op, val)
    return {
        k: val for k, (score, op, val) in best.items() if op != "d"
    }


@PROP
@given(events_strategy)
def test_cdc_latest_wins_matches_model(spark, events):
    # make (ts, op) unique per key so the winner is well-defined: keep
    # the last occurrence of each (key, ts, op)
    dedup = {}
    for key, op, ts, val in events:
        dedup[(key, ts, op)] = val
    events = [(k, op, ts, v) for (k, ts, op), v in dedup.items()]

    rows = spark.createDataFrame(
        events, "id long, op string, ts_ms long, val long"
    )
    wire = cdc.encode_envelope(
        rows.select("id", "val", "op", "ts_ms"), "op", "ts_ms", "t"
    )
    parsed = cdc.parse_envelope(
        wire, spark.createDataFrame([], "id long, val long").schema
    )
    changes = cdc.decode(parsed, ["id"])
    final = cdc.apply_latest_state(changes, ["id"])
    got = {r["id"]: r["val"] for r in final.collect()}
    assert got == _model_latest_state(events)


# --------------------------------------------------------------------------
# n-gram Jaccard pairs vs pure-Python set arithmetic
# --------------------------------------------------------------------------

word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
doc = st.lists(word, min_size=0, max_size=12).map(" ".join)


def _model_jaccard_pairs(texts, n=3, threshold=0.5):
    def sh(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    out = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = sh(texts[a]), sh(texts[b])
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            jac = inter / (len(sa) + len(sb) - inter)
            if inter and jac >= threshold:
                out[(a, b)] = jac
    return out


@PROP
@given(st.lists(doc, min_size=2, max_size=6), st.sampled_from([0.3, 0.5, 0.7]))
def test_ngram_jaccard_matches_model(spark, texts, threshold):
    """Pair set AND per-pair jaccard against a brute-force model; the
    5-word vocabulary makes hot shingles shared by most documents."""
    from end_end_data_pipeline__spark.operators import dedup as dd

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, "text", "doc_id", 3, threshold).collect()
    }
    assert got == _model_jaccard_pairs(texts, threshold=threshold)


# --------------------------------------------------------------------------
# Winnowing guarantee under random padding
# --------------------------------------------------------------------------

letters = st.text(alphabet="abcdefg ", min_size=0, max_size=30)


@PROP
@given(letters, letters, st.text(alphabet="xyz", min_size=11, max_size=20))
def test_winnowing_guarantee_fuzz(spark, pad_a, pad_b, shared):
    """Any two docs sharing a substring of length >= k + w - 1 = 11 must
    share a winnowing fingerprint, whatever surrounds it."""
    from end_end_data_pipeline__spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, pad_a + shared), (2, shared + pad_b)], "doc_id long, text string"
    )
    fps = {
        r["doc"]: set(r["fp"])
        for r in text_ops.winnow_fingerprints(df, "text", "doc_id", 8, 4).collect()
    }
    assert fps[1] & fps[2]


# --------------------------------------------------------------------------
# Salted join ≡ plain join on arbitrary key skew
# --------------------------------------------------------------------------


@PROP
@given(
    st.lists(st.integers(min_value=0, max_value=2), min_size=1, max_size=40)
)
def test_salted_join_equivalence_fuzz(spark, keys):
    from end_end_data_pipeline__spark.operators import scale

    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k long, uid long"
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, lab string")
    plain = sorted(
        (r["k"], r["uid"], r["lab"])
        for r in big.join(dim, "k").collect()
    )
    salted = sorted(
        (r["k"], r["uid"], r["lab"])
        for r in scale.salted_join(big, dim, "k", F.col("uid"), 4).collect()
    )
    assert salted == plain


# --------------------------------------------------------------------------
# as-of join (both directions, with tolerance) vs a sequential model
# --------------------------------------------------------------------------

asof_strategy = st.tuples(
    st.lists(  # left: (key, ts-seconds)
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=12,
    ),
    st.lists(  # right: (key, ts-seconds, value)
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(-9, 9)),
        min_size=0, max_size=12,
    ),
    st.sampled_from(["backward", "forward"]),
    st.sampled_from([None, 100, 0]),
    st.booleans(),  # strict
)


@PROP
@given(asof_strategy)
def test_asof_join_matches_model(spark, case):
    """asof_join == the obvious per-row scan model, for both
    directions and with/without tolerance.  Right timestamps are made
    unique per key (the engine's documented determinism precondition);
    duplicate LEFT rows are fine."""
    left_rows, right_rows, direction, tol, strict = case
    # unique right (key, ts): the carry trick is order-sensitive on ties
    right_rows = list({(k, t): v for k, t, v in right_rows}.items())
    right_rows = [(k, t, v) for (k, t), v in right_rows]

    from end_end_data_pipeline__spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "lid long, k long, secs long",
    ).select("lid", "k", F.timestamp_seconds("secs").alias("ts"))
    right = spark.createDataFrame(
        right_rows or [(99, -1, 0)], "k long, secs long, v long"
    ).select("k", F.timestamp_seconds("secs").alias("ts"), "v")
    if not right_rows:
        right = right.filter("k < 0")

    # sorted MULTISET compare: a dict would silently collapse a
    # regression that emits duplicate rows per left row
    got = sorted(
        (r["lid"], r["asof_v"])
        for r in asof_join(
            left, right, key="k", direction=direction,
            tolerance_seconds=tol, strict=strict,
        ).collect()
    )

    def model(k, t):
        if direction == "backward":
            ok = (lambda rt: rt < t) if strict else (lambda rt: rt <= t)
            cands = [(rt, v) for rk, rt, v in right_rows if rk == k and ok(rt)]
            best = max(cands, default=None)
        else:
            ok = (lambda rt: rt > t) if strict else (lambda rt: rt >= t)
            cands = [(rt, v) for rk, rt, v in right_rows if rk == k and ok(rt)]
            best = min(cands, default=None)
        if best is None:
            return None
        if tol is not None and abs(best[0] - t) > tol:
            return None
        return best[1]

    want = sorted((i, model(k, t)) for i, (k, t) in enumerate(left_rows))
    assert got == want


# --------------------------------------------------------------------------
# grid radius join vs brute force over random point sets
# --------------------------------------------------------------------------


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1, max_size=25, unique=True,
    ),
    st.sampled_from([1, 7, 20]),
)
def test_grid_radius_pairs_fuzz(spark, pts, radius):
    import itertools

    from end_end_data_pipeline__spark.operators.spatial import grid_radius_pairs

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = sorted(
        (r["a_id"], r["b_id"], r["dist2"])
        for r in grid_radius_pairs(df, radius=radius).collect()
    )
    want = sorted(
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for a, b in itertools.combinations(rows, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= radius * radius
    )
    assert got == want


# --------------------------------------------------------------------------
# grouped_global_rank vs the window row_number on adversarial frames
# --------------------------------------------------------------------------

rank_frame_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(["", "a", "b", "a b"])),  # group
        st.booleans(),                                                  # flag
        st.integers(min_value=-50, max_value=50),                       # value
    ),
    min_size=1,
    max_size=40,
)


@PROP
@given(rows=rank_frame_strategy, n_parts=st.integers(min_value=1, max_value=5))
def test_grouped_global_rank_property(spark, rows, n_parts):
    """For ANY frame — NULL/empty/space-bearing string groups, boolean
    group columns, duplicate values, any partition count — the
    two-phase rank equals the window row_number exactly."""
    from pyspark.sql import Window
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from end_end_data_pipeline__spark.operators.scale import grouped_global_rank

    data = [(g, f, v, i) for i, (g, f, v) in enumerate(rows)]
    schema = StructType(
        [
            StructField("g", StringType(), True),
            StructField("flag", BooleanType(), False),
            StructField("v", IntegerType(), False),
            StructField("id", LongType(), False),
        ]
    )
    df = spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
    w = Window.partitionBy("g", "flag").orderBy("v", "id")
    want = {
        r["id"]: r["r"]
        for r in df.withColumn(
            "r", F.row_number().over(w).cast("long")
        ).collect()
    }
    got = {
        r["id"]: r["r"]
        for r in grouped_global_rank(
            df, ["g", "flag"], ["v", "id"], n_parts=n_parts
        ).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# ordered_prefix_sums / global_ntile vs the single-task window forms
# --------------------------------------------------------------------------

cum_frame_strategy = st.lists(
    st.integers(min_value=-1_000_000, max_value=1_000_000),  # measure
    min_size=1,
    max_size=40,
)


@PROP
@given(
    vals=cum_frame_strategy,
    n_parts=st.integers(min_value=1, max_value=7),
    dup_every=st.integers(min_value=1, max_value=3),
)
def test_ordered_prefix_sums_property(spark, vals, n_parts, dup_every):
    """For ANY measure sequence — negatives, zeros, duplicate sort keys
    straddling range splits (key = id DIV dup_every with the unique id
    as tie-break), any partition count — the range-partitioned prefix
    sum and its grand-total literal equal the window form exactly."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    from end_end_data_pipeline__spark.operators import scale

    data = [(i // dup_every, i, v) for i, v in enumerate(vals)]
    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("id", LongType(), False),
            StructField("v", LongType(), False),
        ]
    )
    df = spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["c"]
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    out = scale.ordered_prefix_sums(
        df, ["k", "id"], ["v"], n_parts=n_parts, with_totals=True
    ).collect()
    got = {r["id"]: r["__cum_v"] for r in out}
    assert got == want
    total = sum(vals)
    assert all(r["__tot_v"] == total for r in out)


@PROP
@given(
    vals=cum_frame_strategy,
    n_parts=st.integers(min_value=1, max_value=7),
    n_buckets=st.integers(min_value=1, max_value=13),
)
def test_global_ntile_property(spark, vals, n_parts, n_buckets):
    """For ANY population — n smaller/larger than the bucket count,
    duplicate values with a unique tie-break, any partition count —
    the arithmetic bucket from the distributed rank is bit-identical
    to ``ntile`` (whose own determinism needs the same total order)."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    from end_end_data_pipeline__spark.operators import scale

    data = [(v, i) for i, v in enumerate(vals)]
    schema = StructType(
        [
            StructField("v", LongType(), False),
            StructField("id", LongType(), False),
        ]
    )
    df = spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["b"]
        for r in df.withColumn("b", F.ntile(n_buckets).over(w)).collect()
    }
    got = {
        r["id"]: r["bucket"]
        for r in scale.global_ntile(
            df, ["v", "id"], n_buckets, n_parts=n_parts
        ).collect()
    }
    assert got == want
