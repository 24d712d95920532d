"""Table reads plan without Spark jobs.

Two things make that true, and both are pinned here:

  * known-schema reads — a manifest dir tagged with the commit's
    schema version is read with the commit schema given, so no
    footer-inference job runs at plan time; older-version dirs keep
    the infer-and-align path (checked against a pandas model);
  * driver-side bucketing — `driver_bucket` ports Spark's Murmur3
    `hash` so a point lookup picks its bucket without a one-row job
    (checked equal to `bucket_expr` as Spark evaluates it).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from datax_spark.table import SnapshotTable, bucket_expr, driver_bucket

_BUCKET_COUNTS = (1, 16, 64)
_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1
_TYPES = {"string": T.StringType(), "int": T.IntegerType(), "long": T.LongType()}


def _spark_buckets(spark, types: list[T.DataType], rows: list[tuple]) -> list[tuple]:
    """bucket_expr for every row at every bucket count, as Spark runs it."""
    cols = [f"k{i}" for i in range(len(types))]
    schema = T.StructType(
        [T.StructField("i", T.IntegerType())]
        + [T.StructField(c, t) for c, t in zip(cols, types)]
    )
    df = spark.createDataFrame([(i, *r) for i, r in enumerate(rows)], schema)
    out = df.select(
        "i", *[bucket_expr(cols, nb).alias(f"b{nb}") for nb in _BUCKET_COUNTS]
    ).collect()
    return [tuple(r[f"b{nb}"] for nb in _BUCKET_COUNTS) for r in sorted(out, key=lambda r: r["i"])]


def _driver_buckets(types: list[T.DataType], rows: list[tuple]) -> list[tuple]:
    return [tuple(driver_bucket(list(r), types, nb) for nb in _BUCKET_COUNTS) for r in rows]


def test_driver_bucket_matches_spark_on_edge_values(spark):
    """Every UTF-8 tail length (len % 4 over 1-, 2-, 3- and 4-byte
    code points), the empty string, integer extremes and sign edges,
    nulls and composite keys."""
    strings = ["", "a", "ab", "abc", "abcd", "abcde", "é", "éé", "日本語",
               "日本語x", "😀", "a😀", "\x00", "\x7f\x80", "org0/repo0", "src/m0/f0.py"]
    ints = [0, 1, -1, 42, _INT_MIN, _INT_MAX, _INT_MIN + 1, 2**24, -(2**24)]
    longs = ints + [_LONG_MIN, _LONG_MAX, 2**32, -(2**32), 2**31, 2**31 - 1 + 2**32]
    cases = [
        ([T.StringType()], [(s,) for s in strings] + [(None,)]),
        ([T.IntegerType()], [(v,) for v in ints] + [(None,)]),
        ([T.LongType()], [(v,) for v in longs] + [(None,)]),
        (
            [T.StringType(), T.LongType(), T.IntegerType()],
            [(s, lv, iv) for s, lv, iv in zip(strings, longs, ints * 2)]
            + [(None, 7, None), ("x", None, 3), (None, None, None)],
        ),
    ]
    for types, rows in cases:
        assert _driver_buckets(types, rows) == _spark_buckets(spark, types, rows)


def _values(kind: str):
    if kind == "string":
        return st.text(max_size=12)
    if kind == "int":
        return st.integers(_INT_MIN, _INT_MAX)
    return st.integers(_LONG_MIN, _LONG_MAX)


@st.composite
def _key_batches(draw):
    kinds = draw(st.lists(st.sampled_from(sorted(_TYPES)), min_size=1, max_size=3))
    row = st.tuples(*[st.one_of(st.none(), _values(k)) for k in kinds])
    return [_TYPES[k] for k in kinds], draw(st.lists(row, min_size=1, max_size=20))


@settings(max_examples=25, deadline=None)
@given(case=_key_batches())
def test_driver_bucket_equals_bucket_expr(spark, case):
    """Property: for any key of string/int/long components (nulls and
    composites included), the driver-side bucket equals bucket_expr
    as Spark evaluates it, at 1, 16 and 64 buckets."""
    types, rows = case
    assert _driver_buckets(types, rows) == _spark_buckets(spark, types, rows)


def test_driver_bucket_declines_what_it_does_not_port():
    """Types and Python values outside the port return None (the caller
    then asks Spark) rather than a guessed bucket."""
    assert driver_bucket([1.5], [T.DoubleType()], 16) is None
    assert driver_bucket([2**31], [T.IntegerType()], 16) is None
    assert driver_bucket([True], [T.IntegerType()], 16) is None
    assert driver_bucket(["5"], [T.LongType()], 16) is None
    assert driver_bucket([5], [T.StringType()], 16) is None


def test_lookup_of_unported_key_type_asks_spark(spark, tmp_path):
    """Keys the port declines (a date component, or a literal that needs
    a cast) still reach the right bucket through the Spark fallback."""
    import datetime as dt

    schema = T.StructType([T.StructField("d", T.DateType()),
                           T.StructField("n", T.LongType()),
                           T.StructField("v", T.StringType())])
    t = SnapshotTable.create(spark, str(tmp_path / "t"), schema,
                             key_cols=["d", "n"], num_buckets=16)
    day0 = dt.date(2024, 1, 1)
    rows = [(day0 + dt.timedelta(days=i % 9), i, f"v{i}", i, "I") for i in range(60)]
    t.merge(spark.createDataFrame(rows, "d date, n long, v string, lsn long, op string"))
    for i in (0, 17, 59):
        key = {"d": day0 + dt.timedelta(days=i % 9), "n": i}
        assert [r["v"] for r in t.lookup(key).collect()] == [f"v{i}"]
    assert [r["v"] for r in t.lookup({"d": "2024-01-03", "n": "11"}).collect()] == ["v11"]
    got = t.lookup_many([{"d": day0 + dt.timedelta(days=i % 9), "n": i} for i in (4, 31)])
    assert sorted(r["v"] for r in got.collect()) == ["v31", "v4"]


# ---------------------------------------------------------------- job counts

_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)
_DDL = "lsn long, op string, repo string, path string, content string"


def _new_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """A COW and a MOR table at their current schema version. The MOR
    one holds 16 buckets × (1 base + 3 deltas) = 64 file-sets, above
    Spark's default 32-path threshold for a listing job."""
    root = tmp_path_factory.mktemp("planning")
    out = {}
    for strategy in ("cow", "mor"):
        t = SnapshotTable.create(spark, str(root / strategy), _SCHEMA,
                                 key_cols=["repo", "path"], num_buckets=16)
        for b in range(4):
            rows = [(100 * b + i, "I" if b == 0 else "U", f"r{i % 5}", f"f{i}.py",
                     f"v{b}-{i}") for i in range(80)]
            t.merge(spark.createDataFrame(pd.DataFrame(
                rows, columns=["lsn", "op", "repo", "path", "content"]), _DDL),
                batch_id=f"b{b}", strategy="cow" if b == 0 else strategy)
        out[strategy] = t
    parts = sum(len(SnapshotTable._manifest_parts(e))
                for e in out["mor"].current()["manifest"].values())
    assert parts == 64
    return out


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_building_reads_launches_no_job(spark, tables, strategy):
    t = tables[strategy]
    key = {"repo": "r3", "path": "f3.py"}
    keys = [key, {"repo": "r1", "path": "f6.py"}, {"repo": "r0", "path": "nope"}]
    lk, n_lookup = _new_jobs(spark, lambda: t.lookup(key))
    lm, n_many = _new_jobs(spark, lambda: t.lookup_many(keys))
    sn, n_snap = _new_jobs(spark, lambda: t.snapshot())
    assert (n_lookup, n_many, n_snap) == (0, 0, 0)
    assert [r["content"] for r in lk.collect()] == ["v3-3"]
    assert sorted(r["content"] for r in lm.collect()) == ["v3-3", "v3-6"]
    assert sn.count() == 80


def test_point_lookup_collect_is_one_job(spark, tables):
    t = tables["cow"]
    rows, n = _new_jobs(spark, lambda: t.lookup({"repo": "r2", "path": "f7.py"}).collect())
    assert [r["content"] for r in rows] == ["v3-7"]
    assert n == 1


# ------------------------------------------------------- mixed-version read


def _merge(spark, t, rows, cols, ddl, batch_id, strategy):
    pdf = pd.DataFrame(rows, columns=["lsn", "op", *cols])
    t.merge(spark.createDataFrame(pdf, ddl), batch_id=batch_id, strategy=strategy)


def test_mixed_version_read_matches_pandas_model(spark, tmp_path):
    """One table holding dirs written before and after an add, a retype
    and a drop, plus a hand-written pre-tombstone dir at the current
    version: snapshot(), lookup and lookup_many equal a pandas model
    folded the same way."""
    schema0 = T.StructType([T.StructField("k", T.StringType()),
                            T.StructField("a", T.IntegerType()),
                            T.StructField("b", T.StringType())])
    loc = str(tmp_path / "t")
    t = SnapshotTable.create(spark, loc, schema0, key_cols=["k"], num_buckets=4)
    model: dict[str, dict] = {}

    def apply(rows, cols):
        for lsn, op, *vals in rows:
            if op == "D":
                model.pop(vals[0], None)
            else:
                model[vals[0]] = {**{c: None for c in cols}, **dict(zip(cols, vals))}

    keys = [f"k{i}" for i in range(12)]
    rows = [(i + 1, "I", k, i, f"b{i}") for i, k in enumerate(keys)]
    _merge(spark, t, rows, ["k", "a", "b"], "lsn long, op string, k string, a int, b string",
           "v0", "cow")
    apply(rows, ["k", "a", "b"])

    t.evolve_schema(T.StructType(schema0.fields + [T.StructField("c", T.LongType())]),
                    change="add c")
    for r in model.values():
        r["c"] = None
    rows = [(20 + i, "U", k, -i, f"b{i}'", 10**12 + i) for i, k in enumerate(keys[:6])]
    _merge(spark, t, rows, ["k", "a", "b", "c"],
           "lsn long, op string, k string, a int, b string, c long", "v1", "mor")
    apply(rows, ["k", "a", "b", "c"])

    t.evolve_schema(T.StructType([T.StructField("k", T.StringType()),
                                  T.StructField("a", T.LongType()),
                                  T.StructField("b", T.StringType()),
                                  T.StructField("c", T.LongType())]), change="retype a")
    # one bucket only, so the other buckets keep their v0 bases and v1 deltas
    hot = driver_bucket([keys[4]], [T.StringType()], 4)
    picked = [k for k in keys if driver_bucket([k], [T.StringType()], 4) == hot]
    rows = [(40 + i, "U", k, 2**40 + i, f"B{i}", -i) for i, k in enumerate(picked)]
    _merge(spark, t, rows, ["k", "a", "b", "c"],
           "lsn long, op string, k string, a long, b string, c long", "v2", "cow")
    apply(rows, ["k", "a", "b", "c"])

    final = T.StructType([T.StructField("k", T.StringType()),
                          T.StructField("a", T.LongType()),
                          T.StructField("c", T.LongType())])
    t.evolve_schema(final, change="drop b")
    for r in model.values():
        r.pop("b")
    rows = [(60, "D", keys[0], None, None), (61, "U", keys[10], 7, 70),
            (62, "I", "k-new", 8, 80)]
    _merge(spark, t, rows, ["k", "a", "c"], "lsn long, op string, k string, a long, c long",
           "v3", "mor")
    apply(rows, ["k", "a", "c"])

    # Hand-written file-set at the CURRENT schema version with no
    # _tombstone column (a pre-tombstone writer): its null _tombstone
    # must read as live. Appended as a MOR delta of the key's bucket.
    cur = t.current()
    hand = [("k11", 111, 1111, 90), ("k-hand", 222, None, 91)]
    by_bucket: dict[int, list] = {}
    for row in hand:
        by_bucket.setdefault(driver_bucket([row[0]], [T.StringType()], 4), []).append(row)
    v = cur["version"] + 1
    manifest = dict(cur["manifest"])
    for b, brows in by_bucket.items():
        rel = f"data/c{v:012d}-handmade/_bucket={b}"
        spark.createDataFrame(brows, "k string, a long, c long, _lsn long") \
            .coalesce(1).write.parquet(os.path.join(loc, rel))
        manifest[str(b)] = t._append_delta(manifest.get(str(b)), [rel, cur["schema_version"]])
    t._write_commit(v, {**cur, "snapshot_id": "handmade", "parent": cur["snapshot_id"],
                        "manifest": manifest, "batch_id": None, "lineage": []})
    for k, a, c, _lsn in hand:
        model[k] = {"k": k, "a": a, "c": c}

    # every generation of dir is really on the read path
    versions = {sv for e in t.current()["manifest"].values()
                for _d, sv in SnapshotTable._manifest_parts(e)}
    assert versions == {0, 1, 2, 3}

    want = (pd.DataFrame(sorted(model.values(), key=lambda r: r["k"]), columns=["k", "a", "c"])
            .astype({"a": "Int64", "c": "Int64"}).reset_index(drop=True))
    got = (t.snapshot().toPandas().sort_values("k")
           .astype({"a": "Int64", "c": "Int64"}).reset_index(drop=True))
    assert list(got.columns) == ["k", "a", "c"]
    pd.testing.assert_frame_equal(got, want)

    for k in keys + ["k-new", "k-hand"]:
        rows = [r.asDict() for r in t.lookup({"k": k}).collect()]
        assert rows == ([model[k]] if k in model else []), k
    many = sorted((r.asDict() for r in t.lookup_many([{"k": k} for k in keys]).collect()),
                  key=lambda r: r["k"])
    assert many == sorted((model[k] for k in keys if k in model), key=lambda r: r["k"])
