"""The benchmark's workloads: inputs, set-up, one timed operation, checks.

Each workload drives the package only through its public entry points
(``IngestionEngine``, the registered ``queries()``), from one process with
one client. A workload exposes:

* ``prepare()`` — generate its seeded inputs (never timed);
* ``setup()`` — everything a deployment pays before steady state: the
  first (cold) pass that warms JVM code generation, the parquet committer
  and the similarity training memos. Its operations' latencies, plus the
  session start, make ``setup_s``;
* ``op()`` — one timed operation; returns :class:`Op` records;
* ``final_check()`` — the expensive output checks (never timed).
"""

from __future__ import annotations

import dataclasses
import decimal
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen


@dataclass
class Op:
    kind: str  # e.g. tick | retry_tick | report | query:<name>
    latency_s: float
    ok: bool = True
    error: str | None = None
    #: facts a per-layer metric needs (files attempted, re-attempts ...)
    facts: dict = field(default_factory=dict)


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0 when nothing
    succeeded (the run then reports ``correct: false``)."""
    xs = sorted(xs)
    if len(xs) <= 1:
        return xs[0] if xs else 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile; with fewer than 11 samples, the maximum (p100)."""
    n = len(xs)
    if n <= 10:
        return max(xs, default=0.0), 100
    q = 100 * (n - 10) // n
    return pct(xs, q), q


def _fail(kind: str, t0: float, e: BaseException) -> Op:
    return Op(kind, time.perf_counter() - t0, ok=False, error=f"{type(e).__name__}: {e}"[:500])


# ----------------------------------------------------------------------
# ingest_cron
# ----------------------------------------------------------------------


class IngestCron:
    """Cron ticks on top of a backfilled upload history.

    Set-up backfills ``history`` files (the engine's no-log first-run
    path at full width); that backfill is also the process's warm-up.
    Each timed cycle drops one new file per registered table, runs
    ``IngestionEngine.run`` (the tick), then ``write_summary_report`` +
    ``refresh_patient_counts`` (the reports). Every ``bad_every``-th
    tick, counting the backfill as tick 0, also drops a patient_person
    file with bad dates: that run logs it failed, and the next tick
    re-attempts it (its mtime is inside the engine's 2 s retry slack),
    purging and rewriting ``stg_patient_person`` — a retry tick. The
    phase is fixed, so every run's timed part is a retry tick, then
    ``bad_every - 2`` plain ticks with only clean files."""

    name = "ingest_cron"
    primary = "tick"
    #: stop only on a cycle boundary
    stop_every = 1
    #: pin the JVM to the C1 JIT (see README, "Pinned session")
    c1_only = True
    #: layer of a Spark stage nothing else attributes
    fallback_layer = "ingest"
    #: input sizes; "tiny" is the self-test size
    scales = {
        "full": {"history_files": 100, "facilities": 64, "bad_every": 5},
        "tiny": {"history_files": 24, "facilities": 6, "bad_every": 3},
    }

    def __init__(self, spark, work: str, seed: int, scale: dict) -> None:
        self.spark = spark
        self.seed = seed
        self.drop = os.path.join(work, "uploads")
        self.wh = os.path.join(work, "warehouse")
        self.history = scale["history_files"]
        self.facilities = scale["facilities"]
        self.bad_every = scale["bad_every"]
        #: plain ticks a run needs at least, whatever --seconds says: all
        #: the clean ticks of one traffic period
        self.min_ops = self.bad_every - 2
        self.writer: gen.UploadWriter | None = None
        self.engine = None
        self.ticks = 0
        self.failed_keys: set[str] = set()
        self.corrupt = scale.get("corrupt_expected", False)

    def prepare(self) -> None:
        self.writer = gen.UploadWriter(self.drop, self.seed, self.facilities)
        self.writer.write_drop(self.history)
        if self.corrupt:
            # a deliberately wrong expectation: the checks must trip
            t = next(t for t in self.writer.truth.values() if t.status == "success")
            self.writer.truth[t.key] = dataclasses.replace(t, n_valid=t.n_valid + 1)

    def setup(self) -> list[Op]:
        from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
            IngestionEngine,
        )

        self.engine = IngestionEngine(self.spark, self.wh)
        # tick 0's bad-date file, dropped just before the backfill starts
        self.writer.write_file(table="patient_person", kind="bad_date")
        t0 = time.perf_counter()
        try:
            rep = self.engine.run(self.drop)
        except Exception as e:  # noqa: BLE001 — counted, never raised
            return [_fail("backfill", t0, e)]
        op = Op("backfill", time.perf_counter() - t0)
        truth = list(self.writer.truth.values())
        self._check_report(op, rep, truth, set())
        self.failed_keys = {t.key for t in truth if t.status == "failed"}
        op.facts["rows"] = rep.records_ingested + rep.records_quarantined
        return [op]

    def _new_files(self) -> list[gen.FileTruth]:
        # one clean file per registered table: every tick has the same
        # table fan-out, so tick cost does not depend on the seed's mix
        w = self.writer
        files = [w.write_file(table=t, kind="ok") for t in w.tables]
        if self.ticks % self.bad_every == 0:
            files.append(w.write_file(table="patient_person", kind="bad_date"))
        return files

    def _check_report(self, op: Op, rep, new: list[gen.FileTruth], prior_failed: set[str]) -> None:
        """The run's report against the planted truth: every new file is
        attempted; any other attempted file must be a prior failure (a
        re-attempt), which must fail again; row totals must add up."""
        truth = self.writer.truth
        new_keys = {t.key for t in new}
        err = set(rep.errors)
        retried = err - new_keys
        attempted = rep.files_ingested + rep.files_failed
        want_fail = {t.key for t in new if t.status == "failed"}
        problems = []
        if not retried <= prior_failed:
            problems.append(f"unexpected failures {sorted(retried - prior_failed)[:3]}")
        if err & new_keys != want_fail:
            problems.append(f"failed set {sorted(err & new_keys)[:3]} != {sorted(want_fail)[:3]}")
        if attempted != len(new) + len(retried):
            problems.append(f"attempted {attempted} != {len(new)} new + {len(retried)} retried")
        rows = [truth[k] for k in new_keys | retried]
        if rep.records_ingested != sum(t.n_valid for t in rows):
            problems.append(f"records_ingested {rep.records_ingested}")
        if rep.records_quarantined != sum(t.n_bad for t in rows):
            problems.append(f"records_quarantined {rep.records_quarantined}")
        if rep.files_seen != len(truth):
            problems.append(f"files_seen {rep.files_seen} != {len(truth)}")
        op.facts.update(attempted=attempted, reattempted=len(retried))
        if problems:
            op.ok, op.error = False, "; ".join(problems)

    def op(self) -> list[Op]:
        self.ticks += 1
        new = self._new_files()
        t0 = time.perf_counter()
        try:
            rep = self.engine.run(self.drop)
        except Exception as e:  # noqa: BLE001
            return [_fail("tick", t0, e)]
        tick = Op("tick", time.perf_counter() - t0)
        self._check_report(tick, rep, new, self.failed_keys)
        tick.facts["rows"] = rep.records_ingested + rep.records_quarantined
        if tick.facts.get("reattempted"):
            tick.kind = "retry_tick"
        self.failed_keys |= {t.key for t in new if t.status == "failed"}
        t1 = time.perf_counter()
        try:
            self.engine.write_summary_report()
            self.engine.refresh_patient_counts()
        except Exception as e:  # noqa: BLE001
            return [tick, _fail("report", t1, e)]
        return [tick, Op("report", time.perf_counter() - t1)]

    # -- the untimed deep check -----------------------------------------
    def final_check(self) -> list[str]:
        """Audit log, staging, quarantine, masks, reports vs planted truth."""
        from pyspark.sql import functions as F

        store = self.engine.store
        truth = self.writer.truth
        problems: list[str] = []

        log = store.read("ingestion_log")
        latest = {}
        for r in log.select(
            "file_name", "facility_id", "status", "json_rec_count", "bad_rec_count", "load_end_time"
        ).collect():
            k = f"{r.facility_id}/{r.file_name}"
            if k not in latest or r.load_end_time >= latest[k].load_end_time:
                latest[k] = r
        if set(latest) != set(truth):
            problems.append(f"log covers {len(latest)} files, {len(truth)} planted")
        for k, t in truth.items():
            r = latest.get(k)
            if r is not None and (r.status, r.json_rec_count, r.bad_rec_count) != (
                t.status,
                t.n_valid,
                t.n_bad,
            ):
                problems.append(
                    f"{k}: log {(r.status, r.json_rec_count, r.bad_rec_count)}"
                    f" != {(t.status, t.n_valid, t.n_bad)}"
                )
                break

        for table in gen.TRAFFIC["table_mix"]:
            for suffix, attr in (("", "n_valid"), ("_bad_dates", "n_bad")):
                want = {
                    (t.file_name, t.facility): getattr(t, attr)
                    for t in truth.values()
                    if t.table == table and getattr(t, attr)
                }
                name = f"stg_{table}{suffix}"
                if not store.exists(name):
                    if want:
                        problems.append(f"{name} missing")
                    continue
                df = store.read(name)
                # per-file row counts, PII leaks and non-mask values in one
                # aggregation job over the table
                strs = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
                if table == "hts_client":
                    strs.append("extra.value")
                leak = F.lit(False)
                for c in strs:
                    leak = leak | F.coalesce(F.col(c).contains(gen.PII_MARK), F.lit(False))
                unmasked = F.lit(False)
                if table in gen.MASKED_TABLES:
                    # a NULL counts as unmasked: the mask is a constant
                    for c in gen.PII_COLS[table]:
                        if c in df.columns:
                            unmasked = unmasked | F.coalesce(F.col(c) != gen.MASK, F.lit(True))
                rows = (
                    df.groupBy("stg_file_name", "stg_datim_id")
                    .agg(
                        F.count("*").alias("n"),
                        F.count(F.when(leak, 1)).alias("leak"),
                        F.count(F.when(unmasked, 1)).alias("unmasked"),
                    )
                    .collect()
                )
                got = {(r.stg_file_name, r.stg_datim_id): r.n for r in rows}
                if got != want:
                    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
                    problems.append(
                        f"{name}: per-file rows differ on {len(bad)} files, e.g. {bad[:1]}"
                        f" got {got.get(bad[0]) if bad else None}"
                        f" want {want.get(bad[0]) if bad else None}"
                    )
                n_leak = sum(r.leak for r in rows)
                if n_leak:
                    problems.append(f"{name}: {n_leak} rows leak unmasked PII")
                n_unmasked = sum(r.unmasked for r in rows)
                if n_unmasked:
                    problems.append(f"{name}: {n_unmasked} rows with a non-mask PII value")
                if table == "biometric" and {"match_type", "match_person_uuid"} & set(df.columns):
                    problems.append(f"{name}: excluded columns present")

        summ = store.read("process_summary_report").orderBy(F.desc("report_time")).first()
        want_summary = (
            len(truth),
            sum(t.status == "success" for t in truth.values()),
            sum(t.status == "failed" for t in truth.values()),
            sum(t.n_valid for t in truth.values()),
            sum(t.n_bad for t in truth.values()),
        )
        got_summary = (
            summ.total_files,
            summ.n_success,
            summ.n_failed,
            summ.records_ingested,
            summ.records_quarantined,
        )
        if got_summary != want_summary:
            problems.append(f"summary {got_summary} != {want_summary}")

        want_counts: dict[str, set[str]] = {}
        for t in truth.values():
            if t.active_uuids:
                want_counts.setdefault(t.facility, set()).update(t.active_uuids)
        got_counts = {
            r.datim_id: r.patient_count
            for r in store.read("central_partner_mapping").collect()
            if r.patient_count
        }
        if got_counts != {k: len(v) for k, v in want_counts.items()}:
            problems.append("central_partner_mapping patient counts differ")
        return problems

    # -- figures ---------------------------------------------------------
    def _bytes_ratio(self) -> float:
        """Warehouse bytes on disk per JSON byte planted."""
        return dir_size(self.wh)[1] / self.writer.input_bytes()

    def summary(self, flat: list[Op], timed_s: float) -> dict:
        """The workload's own figures, plus the generic ``_latency`` (median
        plain tick) and ``_rate`` (ticks per timed second) of the result line."""
        def lat(kind: str) -> list[float]:
            return [o.latency_s for o in flat if o.kind == kind and o.ok]

        ticks, retry, reports = lat("tick"), lat("retry_tick"), lat("report")
        t_tail, q = tail(ticks)
        rows = sum(o.facts.get("rows", 0) for o in flat if o.kind in ("tick", "retry_tick"))
        tick_wall = sum(ticks) + sum(retry)
        return {
            "tick_p50_s": pct(ticks, 50),
            "tick_tail_s": t_tail,
            "tick_tail_pct": q,
            "n_ticks": len(ticks),
            "retry_tick_p50_s": pct(retry, 50) if retry else None,
            "n_retry_ticks": len(retry),
            "report_p50_s": pct(reports, 50) if reports else None,
            "ingest_rows_per_s": rows / tick_wall if tick_wall else 0.0,
            "stored_bytes_per_input_byte": self._bytes_ratio(),
            "_latency": pct(ticks, 50),
            "_rate": (len(ticks) + len(retry)) / timed_s,
        }

    def layer_extras(self) -> dict:
        parts = sum(
            dir_size(os.path.join(self.wh, t))[0]
            for t in ("ingestion_log", "stg_monitoring", "pipeline_log")
        )
        return {
            "store.log_part_files": (parts, "count"),
            "store.bytes_per_input_byte": (self._bytes_ratio(), "ratio"),
        }


def dir_size(path: str, since: float | None = None) -> tuple[int, int]:
    """(parquet part files, bytes) under ``path``; with ``since`` (a
    ``time.perf_counter`` value) only files modified after it count."""
    files = nbytes = 0
    cutoff = None
    if since is not None:
        cutoff = time.time() - (time.perf_counter() - since) - 0.001
    for dirpath, _dirs, names in os.walk(path):
        for f in names:
            if not f.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if cutoff is not None and st.st_mtime < cutoff:
                continue
            files += 1
            nbytes += st.st_size
    return files, nbytes


# ----------------------------------------------------------------------
# analytics_mix
# ----------------------------------------------------------------------

#: registered query → family (every family is one operators sub-area)
MIX = {
    "q1_pricing_summary": "relational",
    "q3_shipping_priority": "relational",
    "anti_join_no_orders": "relational",
    "session_window_stats": "temporal",
    "ivf_topk_neighbors": "vector",
    "tf_idf_scores": "retrieval",
    "quality_gate_training": "training",
}


class AnalyticsMix:
    """A closed loop, one client: back-to-back passes over seeded shuffles
    of :data:`MIX`, each query planned by its registered function and
    executed through a ``noop`` write. Set-up is one cold pass that
    collects every result and compares it with the query's DuckDB
    ``oracle_sql()`` (row count + order-insensitive value multiset)."""

    name = "analytics_mix"
    primary = "query"
    #: three whole passes at least, and a run ends only on a pass
    #: boundary, so every query has the same number of samples
    min_ops = 3 * len(MIX)
    stop_every = len(MIX)
    #: the default tiered JIT: a serving session lives long enough to repay
    #: C2 compiles (measured in perfbench/README.md)
    c1_only = False
    fallback_layer = "operators"
    scales = {"full": {"sf": 0.01}, "tiny": {"sf": 0.002}}

    def __init__(self, spark, work: str, seed: int, scale: dict) -> None:
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        self.sf = scale["sf"]
        self.rng = np.random.default_rng(seed)
        self.queries = list(MIX)
        self.expected: dict[str, list] = {}
        self.pending: list[str] = []
        self.corrupt = scale.get("corrupt_expected", False)

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.fns = entry.queries()
        gen.warehouse_tables(self.sf_dir, self.sf, self.seed)
        self._oracle()

    def _oracle(self) -> None:
        """Expected results from DuckDB, before Spark starts."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                if t.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, t)}')"
                    )
            for q in self.queries:
                self.expected[q] = canon(con.execute(oracles[q]).df())
        finally:
            con.close()
        if self.corrupt:
            # a deliberately wrong expectation: the check must trip
            q = self.queries[0]
            self.expected[q] = self.expected[q][1:]

    def setup(self) -> list[Op]:
        ops = []
        for q in self._order():
            t0 = time.perf_counter()
            try:
                pdf = self.fns[q](self.spark, self.sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001
                ops.append(_fail(f"check:{q}", t0, e))
                continue
            finally:
                self.spark.catalog.clearCache()
            op = Op(f"check:{q}", time.perf_counter() - t0)
            got, want = canon(pdf), self.expected[q]
            if got != want:
                op.ok = False
                op.error = f"{q}: {len(got)} rows vs oracle {len(want)}, values differ"
            ops.append(op)
        return ops

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def op(self) -> list[Op]:
        """One query: the next of the current seeded shuffle (a new
        shuffle starts when a pass is complete)."""
        if not self.pending:
            self.pending = self._order()
        q = self.pending.pop(0)
        fn = self.fns[q]
        t0 = time.perf_counter()
        try:
            with self.tracer_span("query.plan"):
                df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self.tracer_span("query.exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            return [_fail(f"query:{q}", t0, e)]
        finally:
            # release the query's persisted frames (untimed), as a
            # serving process would between requests
            self.spark.catalog.clearCache()
        return [Op(f"query:{q}", t2 - t0, facts={"plan_s": t1 - t0, "exec_s": t2 - t1})]

    #: replaced by the harness in the traced run
    tracer_span = staticmethod(lambda name: _NullCtx())

    def final_check(self) -> list[str]:
        return []  # every query was checked against its oracle in set-up

    def summary(self, flat: list[Op], timed_s: float) -> dict:
        """Pooled and per-query figures, plus the generic ``_latency`` and
        ``_rate`` of the result line. Those take each query's fastest pass
        (min over passes: a query's cost, less the host's interference)
        and weigh every query of the mix equally. ``_latency`` is their
        geometric mean: a median of seven would jump between the queries
        whose latencies lie near it."""
        qs = [o.latency_s for o in flat if o.kind.startswith("query:") and o.ok]
        q_tail, q = tail(qs)
        per_query = {
            name: min((o.latency_s for o in flat if o.kind == f"query:{name}" and o.ok), default=0.0)
            for name in self.queries
        }
        return {
            "query_p50_s": pct(qs, 50),
            "query_tail_s": q_tail,
            "query_tail_pct": q,
            "n_queries": len(qs),
            "per_query_min_s": per_query,
            "_latency": statistics.geometric_mean(per_query.values()) if all(per_query.values()) else 0.0,
            "_rate": len(per_query) / total if (total := sum(per_query.values())) else 0.0,
        }

    def layer_extras(self) -> dict:
        return {}


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


def _norm(v):
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return tuple(_norm(x) for x in v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def canon(pdf) -> list:
    """Order-insensitive canonical form of a result frame: columns sorted
    by name, values normalized across engines, rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [tuple(_norm(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
    return [tuple(sorted(pdf.columns))] + sorted(rows, key=repr)


WORKLOADS = {w.name: w for w in (IngestCron, AnalyticsMix)}


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
