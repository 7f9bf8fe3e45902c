"""The two workloads.  Each drives the program only through its public
entry points and keeps what its checks need.

A workload object has ``setup`` (session, construction, warm-up),
``teardown``, ``measure(seconds)`` returning one record per operation,
``check`` (independent computations, never timed) and ``layers``
(per-layer figures of a traced run).
"""

from __future__ import annotations

import csv
import io
import json
import os
import threading
import time
import urllib.error
import urllib.request

import pyarrow.parquet as pq

import checks
from spans import set_phase

LIVE_CLIENTS = 2
LIVE_RECIPE = "live_match"
DEDUP_THRESHOLD = 0.8
DEDUP_RULES = {"last_name": "first", "first_name": "mode", "birth_date": "min", "birth_place": "max"}


def _session(tracer):
    from backend_spark.session import get_session

    with tracer.span("session"):
        spark = get_session("idbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    return spark


class Workload:
    name = ""

    def __init__(self, data: str, work: str, tracer, corrupt: bool):
        self.data = data
        self.work = work
        self.tracer = tracer
        self.corrupt = corrupt
        self.spark = None

    def teardown(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _phase(self, phase: str):
        set_phase(self.spark, self.name, phase)

    def records_per_op(self) -> int:
        raise NotImplementedError

    def layers(self, log, ops) -> dict:
        """Traced runs only: figures of this workload's own layers."""
        return {}


# ---------------------------------------------------------------------------
# live_match
# ---------------------------------------------------------------------------


class LiveMatch(Workload):
    """Closed loop of clients posting ~20 noisy identities to
    ``POST /recipes/live_match/apply`` on an in-process ``ApiServer``."""

    name = "live_match"

    def __init__(self, *a, clients: int = LIVE_CLIENTS, **kw):
        super().__init__(*a, **kw)
        self.clients = clients
        self.server = None
        self.book = None
        table = pq.read_table(os.path.join(self.data, "requests.parquet")).to_pylist()
        from gen import SIZES

        b = SIZES["live_match"]["batch"]
        self.batches = [table[i:i + b] for i in range(0, len(table), b)]
        self.bodies = [self._csv(batch) for batch in self.batches]
        self.results: list[dict] = []

    @staticmethod
    def _csv(rows: list[dict]) -> bytes:
        buf = io.StringIO()
        w = csv.DictWriter(buf, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
        return buf.getvalue().encode()

    def _conf(self) -> dict:
        return {
            "datasets": {
                "ref": {"path": os.path.join(self.data, "ref.parquet")},
                "firstnames": {"path": os.path.join(self.data, "firstnames.parquet")},
            },
            "recipes": {LIVE_RECIPE: {"steps": [
                {"map": {"last_norm": "last_name", "first_norm": "first_name"}},
                {"normalize": {"select": ["last_norm", "first_norm"]}},
                {"join": {"dataset": "firstnames", "fuzzy": {"first_norm": "first"}}},
                {"join": {
                    "dataset": "ref",
                    "strict": {"last_norm": "ref_last", "first_norm_match": "ref_first",
                               "birth_date": "ref_birth"},
                    "select": {"match_id": "person_id", "match_place": "ref_place"},
                }},
                {"eval": [{"match_score": "levenshtein_norm(first_norm, first_norm_match)"}]},
            ]}},
        }

    def _instrument(self):
        """Traced runs only: spans around the layers the server reaches."""
        from backend_spark import operators
        from backend_spark.operators import columns
        from backend_spark.plans import RecipeBook

        t, spark, name = self.tracer, self.spark, self.name

        def build_span(apply):
            def traced(df):
                set_phase(spark, name, "build")
                with t.span("plans"):
                    out = apply(df)
                set_phase(spark, name, "exec")
                return out
            return traced

        t.wrap(RecipeBook, "compile", "plans.compile", around=build_span)
        t.wrap(columns, "eval_expr_column", "expr")
        t.wrap(operators, "join_fuzzy", "operators.joins")
        t.wrap(operators, "join_strict", "operators.joins")

    def setup(self):
        from backend_spark.api import ApiServer
        from backend_spark.plans import RecipeBook

        self.spark = _session(self.tracer)
        self._phase("setup")
        self.book = RecipeBook(self._conf(), spark=self.spark)
        self.server = ApiServer(self.spark, self.book).start()
        if self.tracer.enabled:
            self.tracer.unwrap_all()
            self._instrument()
        self._post(0)  # warm-up request, not kept

    def teardown(self):
        if self.server is not None:
            self.server.stop()
            self.server = None
        super().teardown()

    def _post(self, batch: int) -> dict:
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.server.port}/recipes/{LIVE_RECIPE}/apply",
            data=self.bodies[batch], headers={"Content-Type": "text/csv"}, method="POST",
        )
        start = time.time()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                rows = json.loads(resp.read())["rows"]
            ok, err = True, None
        except (urllib.error.URLError, OSError, ValueError, KeyError) as e:
            rows, ok, err = None, False, f"{type(e).__name__}: {e}"
        return {"batch": batch, "start": start, "end": time.time(), "ok": ok, "rows": rows, "error": err}

    def measure(self, seconds: float) -> list[dict]:
        lock = threading.Lock()
        nxt = [1]
        deadline = time.time() + seconds
        out: list[dict] = []

        def client():
            while time.time() < deadline:
                with lock:
                    b = nxt[0] % len(self.batches)
                    nxt[0] += 1
                r = self._post(b)
                with lock:
                    out.append(r)

        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(self.clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        out.sort(key=lambda r: r["start"])
        self.results = out
        return out

    def records_per_op(self) -> int:
        return len(self.batches[0])

    def check(self) -> list[str]:
        if self.corrupt:
            checks.corrupt_live(self.results)
        return checks.check_live(self.data, self.batches, self.results)

    def layers(self, log, ops) -> dict:
        return {"api.jobs_per_request": len(log.jobs_within(ops)) / max(len(ops), 1)}


# ---------------------------------------------------------------------------
# dedup_resolve
# ---------------------------------------------------------------------------


class PassWorkload(Workload):
    """A workload whose operation is one whole pass: build, run, write."""

    def _pass(self, out: str) -> None:
        raise NotImplementedError

    def setup(self):
        """Session and one warm-up pass on the whole input: a smaller
        warm-up leaves the first timed passes on code the JVM has not
        compiled yet."""
        self.spark = _session(self.tracer)
        self._phase("setup")
        self._pass(os.path.join(self.work, "warmup"))

    def measure(self, seconds: float) -> list[dict]:
        out, deadline = [], time.time() + seconds
        while time.time() < deadline:
            start = time.time()
            try:
                self._pass(os.path.join(self.work, "out"))
                ok, err = True, None
            except Exception as e:  # a failed pass is counted, and the run goes on
                ok, err = False, f"{type(e).__name__}: {e}"
            out.append({"start": start, "end": time.time(), "ok": ok, "error": err})
        return out


class DedupResolve(PassWorkload):
    """3-gram Jaccard pairs over an identity string, resolved into golden
    records by ``er_resolve``; one parquet file with one row group."""

    name = "dedup_resolve"

    def _instrument(self):
        from backend_spark.operators import er

        self.tracer.wrap(er, "connected_components", "operators.graph")

    def setup(self):
        super().setup()
        if self.tracer.enabled:
            self.tracer.unwrap_all()
            self._instrument()

    def _records(self):
        from backend_spark.sources import read_dataset

        return read_dataset(self.spark, os.path.join(self.data, "records.parquet"))

    @staticmethod
    def identity(recs):
        """The string the pairs are built on, accent-stripped by the
        Arrow-Python ``nfkd_ascii``; the pair kernel's own normalisation
        then leaves it as it would the raw string."""
        from pyspark.sql import functions as F

        from backend_spark import functions as fn

        return recs.select(
            "rec_id", fn.nfkd_ascii(F.concat_ws(" ", "last_name", "first_name", "birth_date")).alias("ident")
        )

    def _pass(self, out: str) -> None:
        from backend_spark.llm import ngram_jaccard_pairs
        from backend_spark.operators import er_resolve
        from backend_spark.sources import write_dataset

        self._phase("build")
        with self.tracer.span("plans"):
            recs = self._records()
            with self.tracer.span("llm"):
                pairs = ngram_jaccard_pairs(self.identity(recs), "rec_id", "ident", 3, DEDUP_THRESHOLD)
            with self.tracer.span("operators.er"):
                gold = er_resolve(recs, pairs, "rec_id", DEDUP_RULES,
                                  pair_left="id1", pair_right="id2")
        self._phase("exec")
        write_dataset(gold, out, "parquet")

    def records_per_op(self) -> int:
        return pq.read_metadata(os.path.join(self.data, "records.parquet")).num_rows

    def emitted_pairs(self) -> list[tuple]:
        """The pair kernel's output, collected after timing."""
        from backend_spark.llm import ngram_jaccard_pairs

        self._phase("check")
        pairs = ngram_jaccard_pairs(self.identity(self._records()), "rec_id", "ident", 3,
                                    DEDUP_THRESHOLD)
        return [tuple(r) for r in pairs.collect()]

    def check(self) -> list[str]:
        self.pairs = self.emitted_pairs()
        gold = pq.read_table(os.path.join(self.work, "out")).to_pylist()
        self.entities = len(gold)
        if self.corrupt:
            checks.corrupt_dedup(gold)
        return checks.check_dedup(self.data, self.pairs, gold, DEDUP_THRESHOLD, DEDUP_RULES)

    def layers(self, log, ops) -> dict:
        return {"llm.pairs_emitted": float(len(self.pairs)), "operators.er.entities": float(self.entities)}


WORKLOADS = {w.name: w for w in (LiveMatch, DedupResolve)}
