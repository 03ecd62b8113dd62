"""Helpers shared by the benchmark workloads: seeded corpora, table
fingerprints, percentiles, host and memory records.

Nothing here starts Spark; the functions that need a session take one.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import math
import os
import random
import threading
import time
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TRIPLE_COLS = ["subject", "predicate", "object", "obj_is_literal"]

# Corpus per workload: (turns, hot conversations). The fixture gives the
# first ``hot`` conversations 100x the turns (skew) and draws every
# conversation's length from the seed; the corpus is cut at the first
# conversation boundary past the turn target, so every seed yields the
# same size and metrics per run compare across seeds.
CORPUS = {"build": (5000, 2), "query": (4000, 2), "build-warmup": (400, 0)}

# The query graph's base corpus and its applied batch are the same for
# every run seed, so a checkout builds that graph once (see run.py). The
# batch's conversations start at BATCH_START, past the base corpus.
QUERY_BASE_SEED = 0
BATCH_CONVS = 5
BATCH_START = 100_000

_TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


# ---------------------------------------------------------------------------
# seeded inputs


def fixture_seed(workload: str, seed: int) -> int:
    """The fixture seed of one workload run: a stable function of the
    workload name and the run seed, so workloads never share a corpus."""
    return zlib.crc32(f"{workload}:{seed}".encode())


class _LocalRange:
    def __init__(self, start: int, end: int):
        self.ids = pd.DataFrame({"id": np.arange(start, end, dtype=np.int64)})

    def mapInPandas(self, fn, schema):  # noqa: N802 - mirrors DataFrame
        return pd.concat(list(fn(iter([self.ids]))), ignore_index=True)


class _LocalSession:
    """Stands in for the SparkSession that
    ``transcripts_spark_df_dist`` takes, so the fixture's own
    per-conversation generator runs in this process: the same rows as
    the distributed path (content depends only on seed and conversation
    index), without a Spark job before the timed region."""

    class sparkContext:  # noqa: N801 - mirrors SparkSession
        defaultParallelism = 1

    def range(self, start, end, step=1, parts=None):
        return _LocalRange(start, end)


def gen_batch(seed: int, id_start: int, n_convs: int, hot_convs: int = 0) -> pd.DataFrame:
    """Conversations ``[id_start, id_start + n_convs)`` of the fixture
    corpus with ``seed``. Batches at disjoint ``id_start`` ranges are
    disjoint and consistent with one another."""
    from tera_spark.fixtures.transcripts import transcripts_spark_df_dist

    pdf = transcripts_spark_df_dist(
        _LocalSession(), n_convs=n_convs, seed=seed, hot_convs=hot_convs,
        id_start=id_start,
    )
    return pdf.astype({"turn_idx": "int32"})


def gen_corpus(seed: int, turns: int, hot_convs: int) -> pd.DataFrame:
    """The first conversations of the seed's corpus holding ``turns``
    turns (rounded up to a whole conversation)."""
    pdf = gen_batch(seed, 0, turns // 4, hot_convs)
    sizes = pdf.groupby("conv_id", sort=True).size().cumsum()
    keep = sizes.index[: int((sizes < turns).sum()) + 1]
    return pdf[pdf["conv_id"].isin(set(keep))].reset_index(drop=True)


def query_base() -> tuple[pd.DataFrame, pd.DataFrame]:
    """The query graph's base corpus and its shared first batch."""
    seed = fixture_seed("query", QUERY_BASE_SEED)
    turns, hot = CORPUS["query"]
    return gen_corpus(seed, turns, hot), gen_batch(seed, BATCH_START, BATCH_CONVS)


def forget_pick(corpus: pd.DataFrame, seed: int, hot_convs: int) -> str:
    """The conversation to forget: drawn with ``seed``, uniformly from the
    corpus's conversations past the ``hot_convs`` hot ones."""
    convs = sorted(corpus["conv_id"].unique())[hot_convs:]
    return random.Random(f"forget:{seed}").choice(convs)


def without(corpus: pd.DataFrame, conv_id: str) -> pd.DataFrame:
    """``corpus`` minus one conversation's turns."""
    return corpus[corpus["conv_id"] != conv_id].reset_index(drop=True)


def write_corpus(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(
        pdf.assign(ts=pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC")),
        schema=_TRANSCRIPT_SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# ---------------------------------------------------------------------------
# reading program output without Spark


def read_table(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """All rows of a parquet table directory written by Spark (hive
    partition dirs and empty part files included), as pandas."""
    parts = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        t = pq.read_table(f)
        if t.num_columns == 0:
            continue
        t = t.drop_columns([c for c in t.column_names if c == "_bucket"])
        parts.append(t.select(columns) if columns else t)
    if not parts:
        raise FileNotFoundError(f"no parquet rows under {path}")
    return pa.concat_tables(parts).to_pandas()


def committed_batch_dirs(graph: str) -> list[str]:
    """The committed delta-batch directories of a graph, in apply order."""
    return sorted(glob.glob(os.path.join(graph, "_batches", "b*", "_COMMITTED")))


def _read_or_none(path: str, columns: list[str] | None) -> pd.DataFrame | None:
    try:
        return read_table(path, columns)
    except FileNotFoundError:
        return None


def live_table(graph: str, table: str, key: list[str]) -> pd.DataFrame:
    """The live rows of a set table (triples, edges) of a graph with delta
    batches, read with pandas: base rows (sequence 0) and each committed
    batch's added rows (its sequence), minus the rows whose key a later
    or equal batch tombstoned; a batch's adds win over its own tombstones.
    Written from the delta-log layout alone, as a reference for
    ``read_live``."""
    base = read_table(os.path.join(graph, table))
    cols = list(base.columns)
    rows, dels = [base.assign(_seq=0)], []
    for seq, marker in enumerate(committed_batch_dirs(graph), start=1):
        b = os.path.dirname(marker)
        adds = _read_or_none(os.path.join(b, f"{table}_adds"), cols)
        if adds is not None:
            rows.append(adds.assign(_seq=seq))
        d = _read_or_none(os.path.join(b, f"{table}_dels"), key)
        if d is not None:
            dels.append(d.assign(_del=seq))
    out = pd.concat(rows, ignore_index=True)
    if dels:
        last = pd.concat(dels, ignore_index=True).groupby(key, as_index=False)["_del"].max()
        out = out.merge(last, on=key, how="left")
        out = out[out["_del"].isna() | (out["_seq"] >= out["_del"])]
    return out[cols].reset_index(drop=True)


def source_digest(root: str) -> str:
    """A digest of the program's and the benchmark's source files under
    ``root``: a cache built by one version of either is never read by
    another."""
    h = hashlib.sha256()
    files = glob.glob(os.path.join(root, "tera_spark", "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(root, "perfbench", "*.py"))
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def fingerprint(df: pd.DataFrame, columns: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive hash) of ``df[columns]``: the 64-bit sum
    of per-row hashes, so row order and partitioning do not matter and a
    duplicated row does."""
    if df.empty:
        return 0, 0
    norm = df[columns].fillna("\0").astype(str).reset_index(drop=True)
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return len(norm), int(h.sum(dtype=np.uint64))


# ---------------------------------------------------------------------------
# statistics


def percentile(samples: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1, nearest rank) of ``samples``.
    Refuses when fewer than ten samples lie beyond it: a percentile
    with less support than that is noise."""
    n = len(samples)
    rank = max(1, math.ceil(q * n))
    if n - rank < 10:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it; need 10"
        )
    return sorted(samples)[rank - 1]


# ---------------------------------------------------------------------------
# host and memory records


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_window(before: list[int], after: list[int], cores_used: int) -> dict:
    """Idle and steal shares of all host CPUs between two ``cpu_times``
    samples, with the CPUs this process may use and the cores Spark ran
    on. A record of the conditions a run saw; it filters nothing."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1  # user..steal; guest time is inside user
    return {
        "idle_share": (d[3] + d[4]) / total,
        "steal_share": d[7] / total if len(d) > 7 else 0.0,
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": cores_used,
    }


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once in total, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class MemRecord:
    """The memory the program holds, in two parts, each read where it
    means something:

    - the peak proportional set size of the Python worker processes
      below this process, sampled every 0.25 s while entered;
    - the Spark driver JVM's heap in use right after a full collection,
      taken by ``settle`` once the measured operation has returned: what
      the operation left live.

    The JVM's resident size or its sampled used heap would measure the
    configuration instead: the session pins and pre-touches the whole
    heap at start, and G1 lets garbage pile up, young and old, to sizes
    set by the heap size before it collects.

    Disabled, it records nothing: the sampler reads every process's
    ``/proc`` entries four times a second and takes their memory-map
    locks, which the timed runs should not pay."""

    INTERVAL_S = 0.25

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.python_kb = 0
        self.jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in descendants() if _is_python(p))
            self.python_kb = max(self.python_kb, kb)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "MemRecord":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def reset(self) -> None:
        self.python_kb = 0

    def settle(self, jvm) -> None:
        """Collect garbage and record the JVM heap that stays in use.
        Python's collection first drops the gateway proxies of finished
        queries, which otherwise pin their Java objects; the second JVM
        collection frees what Spark's cleaner thread released on seeing
        the first one collect its weakly held blocks."""
        if not self.enabled:
            return
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(1)
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.jvm_kb = mx.getHeapMemoryUsage().getUsed() // 1024
