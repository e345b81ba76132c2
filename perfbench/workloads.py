"""The workloads, each as set-up, per-op input preparation, the timed
op and its correctness check.

Every op gets freshly generated inputs (workload seed + op index): an
identical plan would be answered by Spark's CacheManager and measure the
cache. Inputs are generated and materialized before the op's clock
starts; checks run after it stops.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from thoth_spark import service
from thoth_spark.generation import (
    BatchDatasetGenerator,
    CategoryFeature,
    IdFeature,
    NumericFeature,
    Seasonality,
    TimestampFeature,
    Trend,
    inject_anomalies,
)
from thoth_spark.operators import similarity
from thoth_spark.quality import NotificationHandler
from thoth_spark.repository import MetricsRepository

START = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
DAY = datetime.timedelta(days=1)
MIN_THRESHOLD = 0.1
KEY = ["entity", "instance", "name"]
CONFIDENCE = 0.95


class CheckFailed(Exception):
    """An op returned, but its output is wrong."""


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _op_seed(seed: int, op: int) -> int:
    return seed * 100_003 + op


def events(rows_per_day: float) -> BatchDatasetGenerator:
    """Seven columns: the timestamp, three numeric (one with 5% nulls),
    two categorical and an id."""
    return BatchDatasetGenerator(
        events_trend=Trend(base_value=rows_per_day),
        events_seasonality=Seasonality(week_days=[1, 1, 1, 1, 1, 0.9, 0.85]),
        events_var=0.03,
        features=[
            TimestampFeature("ts"),
            IdFeature("user_id", min_id=1, max_id=5000),
            CategoryFeature("event_type", ["view", "click", "buy"]),
            NumericFeature("value", base_value=40.0, var=0.1),
            NumericFeature("amount", base_value=10.0, var=0.2, nulls_proportion=0.05),
            CategoryFeature("country", ["br", "de", "fr", "us"]),
            NumericFeature("latency", base_value=100.0, var=0.3),
        ],
    )


def _stored(repo: MetricsRepository, table: str, uri: str) -> pd.DataFrame:
    """One dataset's rows of a repository table, read straight from its
    parquet partition with pyarrow: the checks do not go through the
    program's read path, and run no Spark job."""
    path = os.path.join(repo.base_path, table, f"dataset_uri={uri}")
    df = pq.read_table(path).to_pandas()
    if "ts" in df:
        df["day"] = pd.to_datetime(df["ts"]).dt.date
    return df


def _sizes(metrics: pd.DataFrame) -> dict:
    """Persisted Dataset/*/Size per day."""
    size = metrics[(metrics["entity"] == "Dataset") & (metrics["name"] == "Size")]
    return dict(zip(size["day"], size["value"]))


class Workload:
    """One workload. ``setup`` runs once after the session starts (warm-up
    ops included); per op, ``prepare`` builds inputs, ``run`` is timed,
    ``check`` raises :class:`CheckFailed` on a wrong output and
    ``release`` drops the op's inputs."""

    name = ""
    #: facts about the inputs, recorded with each result
    sizes: dict = {}

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one step of the set-up."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def setup(self, tracer=None) -> None:
        """Build the workload's state; ``tracer``, in a traced run, may
        trace set-up work that no timed op repeats."""

    def prepare(self, op: int) -> dict: ...

    def run(self, inputs: dict): ...

    def check(self, inputs: dict, out) -> None: ...

    def release(self, inputs: dict) -> None:
        self.spark.catalog.clearCache()

    def stats(self) -> dict:
        """Extra per-workload ratios for the traced run."""
        return {}


class _Recorder(NotificationHandler):
    """Records notifications instead of logging them."""

    def __init__(self):
        self.calls = 0

    def _notify(self, dataset_uri, ts, anomalous_scores, dashboard_link=None):
        self.calls += 1


class DailyMonitor(Workload):
    """Flows B+C: one new day per op against an onboarded history."""

    name = "daily_monitor"
    sizes = {
        "history_days": 365,
        "rows_per_day": 1000,
        "columns": 7,
        "warmup_days": 1,
        "perturbed_share": 0.25,
    }
    KINDS = ("B_volume_x3", "D_shift_x2", "E_nulls")

    def setup(self, tracer=None) -> None:
        self.repo = MetricsRepository(self.spark, os.path.join(self.workdir, "repo"))
        self.uri = f"daily-{self.seed}"
        with self.phase("history_s"):
            history = events(self.sizes["rows_per_day"]).generate(
                self.spark, START, self.sizes["history_days"], seed=_op_seed(self.seed, -1)
            )
            history = history.cache()
            ts = history.select("ts").toPandas()["ts"]
            per_day = ts.dt.floor("D").dt.date.value_counts().to_dict()
        # flows A+B: the onboarding is the only call of anomaly.optimize and
        # of the add_dataset/add_optimization upserts in this workload
        with self.phase("onboard_s"):
            with tracer.traced("setup") if tracer else contextlib.nullcontext():
                service.profile_create_optimize(
                    history,
                    self.uri,
                    "ts",
                    self.repo,
                    confidence=CONFIDENCE,
                    min_threshold=MIN_THRESHOLD,
                )
            if tracer:
                tracer.collect("setup")
            self.spark.catalog.clearCache()
        self.check_onboarding(per_day)
        with self.phase("warmup_s"):
            for op in range(-self.sizes["warmup_days"], 0):
                inputs = self.prepare(op)
                self.check(inputs, self.run(inputs))
                self.release(inputs)

    def check_onboarding(self, per_day: dict) -> None:
        """One optimization row per persisted metric series, every
        threshold in [min_threshold, 1), and the persisted Dataset/*/Size
        per day equal to the generated per-day row counts."""
        metrics = _stored(self.repo, "metrics", self.uri)
        opt = _stored(self.repo, "optimizations", self.uri)
        series = set(metrics[KEY].itertuples(index=False, name=None))
        opt_keys = list(opt[KEY].itertuples(index=False, name=None))
        _check(
            len(opt_keys) == len(set(opt_keys)) and set(opt_keys) == series,
            f"optimization rows {len(opt_keys)} != persisted series {len(series)}",
        )
        bad = opt[~opt["threshold"].between(MIN_THRESHOLD, 1.0, inclusive="left")]
        _check(
            bad.empty,
            f"thresholds outside [{MIN_THRESHOLD}, 1): "
            f"{bad[[*KEY, 'threshold']].head(3).to_dict('records')}",
        )
        _check(
            _sizes(metrics) == {d: float(n) for d, n in per_day.items()},
            "persisted Dataset/*/Size differs from the generated per-day row counts",
        )

    def _kind(self, op: int) -> str | None:
        """Every fourth day is perturbed, cycling through the kinds, so
        every seed runs the same mix of ops."""
        if op % 4 != 1:
            return None
        return self.KINDS[(op // 4) % len(self.KINDS)]

    def prepare(self, op: int) -> dict:
        day = self.sizes["history_days"] + self.sizes["warmup_days"] + op
        ts = START + day * DAY
        batch = events(self.sizes["rows_per_day"]).generate(
            self.spark, ts, 1, seed=_op_seed(self.seed, op)
        )
        kind = self._kind(op)
        if kind is not None:
            batch = inject_anomalies(batch, "ts", [ts.date()], kind)
        batch = batch.cache()
        return {"batch": batch, "rows": batch.count(), "ts": ts, "kind": kind}

    def run(self, inputs: dict):
        handler = _Recorder()
        ok = service.assess_new_ts(
            inputs["batch"],
            inputs["ts"],
            self.uri,
            self.repo,
            notification_handlers=[handler],
        )
        return ok, handler

    def check(self, inputs: dict, out) -> None:
        ok, handler = out
        day = inputs["ts"].date()
        opt = _stored(self.repo, "optimizations", self.uri)
        scored = _stored(self.repo, "scorings", self.uri)
        scored = scored[scored["day"] == day].merge(opt[[*KEY, "threshold"]], on=KEY)
        _check(len(scored) == len(opt), "not every metric was scored")
        # a null error (e.g. a null-only column) is no breach, as in SQL
        breach = bool((scored["error"] > scored["threshold"]).any())
        _check(ok == (not breach), f"verdict {ok} disagrees with persisted scorings")
        _check(handler.calls == (0 if ok else 1), "handlers fired on the wrong verdict")
        size = _sizes(_stored(self.repo, "metrics", self.uri)).get(day)
        _check(size == float(inputs["rows"]), f"persisted Size {size} != {inputs['rows']}")
        if inputs["kind"] == "B_volume_x3":
            _check(not ok, "a x3-volume day was not flagged")


class AnnServe(Workload):
    """Exact and IVF top-k over a persisted index, one query batch per op."""

    name = "ann_serve"
    sizes = {
        "corpus": 8000,
        "dim": 64,
        "clusters": 32,
        "n_centroids": 16,
        "nprobe": 4,
        "queries_per_op": 8,
        "k": 10,
    }

    def setup(self, tracer=None) -> None:
        s = self.sizes
        rng = np.random.default_rng(self.seed)
        self.centers = rng.standard_normal((s["clusters"], s["dim"]))
        # equal clusters: the seed moves the centers, not the cell sizes
        assign = rng.permutation(np.arange(s["corpus"]) % s["clusters"])
        vecs = self.centers[assign] + 0.6 * rng.standard_normal((s["corpus"], s["dim"]))
        self.ids = np.arange(s["corpus"], dtype=np.int64)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        path = os.path.join(self.workdir, "corpus")
        with self.phase("corpus_s"):
            os.makedirs(path)
            pq.write_table(
                pa.table(
                    {
                        "vec_id": self.ids,
                        "embedding": pa.FixedSizeListArray.from_arrays(
                            vecs.ravel(), s["dim"]
                        ).cast(pa.list_(pa.float64())),
                    }
                ),
                os.path.join(path, "part-0.parquet"),
            )
            self.corpus = self.spark.read.parquet(path)
        self.index = os.path.join(self.workdir, "index")
        with self.phase("index_build_s"):
            similarity.build_ivf_index(
                self.corpus, self.index, n_centroids=s["n_centroids"], seed=self.seed
            )
        self.recall_hits = self.recall_total = 0
        with self.phase("warmup_s"):
            inputs = self.prepare(-1)
            self.check(inputs, self.run(inputs))
            self.release(inputs)
        self.recall_hits = self.recall_total = 0

    def prepare(self, op: int) -> dict:
        s = self.sizes
        rng = np.random.default_rng(_op_seed(self.seed, op) & 0xFFFFFFFF)
        pick = rng.integers(0, s["clusters"], s["queries_per_op"])
        q = self.centers[pick] + 0.6 * rng.standard_normal((len(pick), s["dim"]))
        qids = 10_000_000 + (op + 1) * 1000 + np.arange(len(pick), dtype=np.int64)
        df = self.spark.createDataFrame(
            pd.DataFrame({"vec_id": qids, "embedding": list(q)}),
            "vec_id long, embedding array<double>",
        )
        return {"queries": df, "qids": qids, "qvecs": q}

    def run(self, inputs: dict):
        s = self.sizes
        q = inputs["queries"]
        exact = similarity.brute_force_topk(self.corpus, q, k=s["k"]).collect()
        ivf = similarity.ivf_query_index_join(
            self.spark, self.index, q, k=s["k"], nprobe=s["nprobe"]
        ).collect()
        return exact, ivf

    @staticmethod
    def _by_query(rows) -> dict:
        out: dict = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cos_sim"]))
        return out

    def check(self, inputs: dict, out) -> None:
        k = self.sizes["k"]
        exact, ivf = (self._by_query(rows) for rows in out)
        qn = inputs["qvecs"] / np.linalg.norm(inputs["qvecs"], axis=1, keepdims=True)
        cos = qn @ self.unit.T
        for i, qid in enumerate(inputs["qids"]):
            row = cos[i]
            want = np.lexsort((self.ids, -row))[:k]  # (cos desc, id asc)
            got = exact.get(qid, [])
            _check(len(got) == k, f"query {qid}: {len(got)} exact neighbours")
            for (nid, c), w in zip(got, want):
                _check(
                    nid == w or abs(row[nid] - row[w]) <= 1e-12,
                    f"query {qid}: exact neighbour {nid}, numpy says {w}",
                )
                _check(abs(c - row[nid]) <= 1e-6, f"query {qid}: cos {c} vs {row[nid]}")
            served = ivf.get(qid, [])
            _check(len(served) == k, f"query {qid}: {len(served)} IVF neighbours")
            for nid, c in served:
                _check(abs(c - row[nid]) <= 1e-6, f"query {qid}: IVF cos {c} vs {row[nid]}")
            self.recall_hits += len({n for n, _ in served} & {int(w) for w in want})
            self.recall_total += k

    def stats(self) -> dict:
        return {
            "similarity.ivf_recall_at_k": self.recall_hits / max(self.recall_total, 1)
        }


WORKLOADS = {w.name: w for w in (DailyMonitor, AnnServe)}
