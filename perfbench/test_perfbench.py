"""Tests of the benchmark's own helpers:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from harness import (  # noqa: E402
    TRIPLE_COLS,
    fingerprint,
    fixture_seed,
    forget_pick,
    gen_batch,
    gen_corpus,
    live_table,
    percentile,
    query_base,
    read_table,
    write_corpus,
)


def _triples(n=40):
    return pd.DataFrame({
        "subject": [f"s{i % 7}" for i in range(n)],
        "predicate": [f"p{i % 3}" for i in range(n)],
        "object": [f"o{i}" for i in range(n)],
        "obj_is_literal": [i % 2 == 0 for i in range(n)],
    })


def _write_partitioned(df, path, parts, by):
    """Write ``df`` as hive partitions on ``by``, ``parts`` files each."""
    for key, grp in df.groupby(by):
        d = os.path.join(path, f"_bucket={key}")
        os.makedirs(d, exist_ok=True)
        for j in range(parts):
            grp.iloc[j::parts].drop(columns=[by]).to_parquet(
                os.path.join(d, f"part-{j}.parquet"), index=False)


def test_fingerprint_ignores_row_order_and_partitioning(tmp_path):
    df = _triples()
    a = df.assign(_b=df.index % 4)
    b = df.sample(frac=1, random_state=7).assign(_b=lambda x: x["object"].str.len())
    _write_partitioned(a, str(tmp_path / "a"), 1, "_b")
    _write_partitioned(b, str(tmp_path / "b"), 3, "_b")
    fa = fingerprint(read_table(str(tmp_path / "a")), TRIPLE_COLS)
    fb = fingerprint(read_table(str(tmp_path / "b")), TRIPLE_COLS)
    assert fa == fb == fingerprint(df, TRIPLE_COLS)
    assert fa[0] == len(df)


def test_fingerprint_sees_changed_and_duplicated_rows():
    df = _triples()
    base = fingerprint(df, TRIPLE_COLS)
    changed = df.copy()
    changed.loc[3, "object"] = "other"
    assert fingerprint(changed, TRIPLE_COLS) != base
    assert fingerprint(pd.concat([df, df.iloc[:1]]), TRIPLE_COLS) != base
    flipped = df.copy()
    flipped.loc[0, "obj_is_literal"] = not flipped.loc[0, "obj_is_literal"]
    assert fingerprint(flipped, TRIPLE_COLS) != base


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(20)), 0.5) == 9
    with pytest.raises(ValueError):
        percentile(list(range(19)), 0.5)
    assert percentile(list(range(100)), 0.9) == 89
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)


def test_batches_are_reproducible_disjoint_and_consistent():
    seed = fixture_seed("build", 1)
    a = gen_batch(seed, 0, 6, hot_convs=1)
    pd.testing.assert_frame_equal(a, gen_batch(seed, 0, 6, hot_convs=1))
    b = gen_batch(seed, 6, 4, hot_convs=1)
    assert not set(a["conv_id"]) & set(b["conv_id"])
    whole = gen_batch(seed, 0, 10, hot_convs=1)
    pd.testing.assert_frame_equal(pd.concat([a, b], ignore_index=True), whole)
    other = gen_batch(fixture_seed("build", 2), 0, 6, hot_convs=1)
    assert not a["text"].equals(other["text"])


def test_query_graph_inputs_are_disjoint_and_reproducible():
    base, batch = query_base()
    assert len(set(batch["conv_id"])) == 5
    assert not set(base["conv_id"]) & set(batch["conv_id"])
    pd.testing.assert_frame_equal(query_base()[1], batch)
    assert forget_pick(base, 4, 2) == forget_pick(base, 4, 2)
    hot = sorted(base["conv_id"].unique())[:2]
    assert not {forget_pick(base, s, 2) for s in range(20)} & set(hot)


def _batch(graph, seq, adds=None, dels=None):
    d = os.path.join(graph, "_batches", f"b{seq:06d}_x{seq}")
    os.makedirs(d)
    if adds is not None:
        _write_partitioned(adds.assign(_b=0), os.path.join(d, "triples_adds"), 1, "_b")
    if dels is not None:
        os.makedirs(os.path.join(d, "triples_dels"))
        dels.to_parquet(os.path.join(d, "triples_dels", "part-0.parquet"), index=False)
    open(os.path.join(d, "_COMMITTED"), "w").close()


def test_live_table_merges_batches_with_sequenced_tombstones(tmp_path):
    g = str(tmp_path)
    base = _triples(6)
    _write_partitioned(base.assign(_b=base.index % 2), os.path.join(g, "triples"), 1, "_b")
    key = ["subject", "predicate", "object"]
    row = base.iloc[[0]]
    new = pd.DataFrame({"subject": ["n"], "predicate": ["p"], "object": ["o"],
                        "obj_is_literal": [False]})
    _batch(g, 1, adds=new, dels=base.iloc[[0, 1]][key])   # delete rows 0, 1; add n
    _batch(g, 2, adds=row, dels=row[key])                 # re-add row 0 (adds win)
    _batch(g, 3, dels=new[key])                           # delete n again
    os.makedirs(os.path.join(g, "_batches", "b000004_open", "triples_dels"))  # uncommitted
    live = live_table(g, "triples", key)
    want = pd.concat([row, base.iloc[2:]])
    assert fingerprint(live, TRIPLE_COLS) == fingerprint(want, TRIPLE_COLS)


def test_corpus_size_is_fixed_across_seeds():
    for s in range(5):
        pdf = gen_corpus(fixture_seed("query", s), 600, hot_convs=1)
        last = pdf.groupby("conv_id").size().iloc[-1]
        assert 600 <= len(pdf) < 600 + last
        assert pdf["conv_id"].iloc[0] == "conv000000"  # the hot conversation stays


def test_workload_seeds_differ():
    seeds = {fixture_seed(w, s) for w in ("build", "query") for s in range(10)}
    assert len(seeds) == 20


def test_local_generator_matches_distributed_fixture(tmp_path):
    """The in-process corpus is row-for-row the fixture's Spark output."""
    from tera_spark.fixtures.transcripts import transcripts_spark_df_dist
    from tera_spark.session import get_spark

    spark = get_spark("perfbench-test", cores=2)
    seed = fixture_seed("query", 3)
    path = str(tmp_path / "corpus")
    write_corpus(gen_batch(seed, 5, 8, hot_convs=6), path)
    local = spark.read.parquet(path)
    dist = transcripts_spark_df_dist(spark, n_convs=8, seed=seed, hot_convs=6, id_start=5)
    assert local.schema.simpleString() == dist.schema.simpleString()
    assert local.exceptAll(dist).count() == 0
    assert dist.exceptAll(local).count() == 0
