"""Seeded input generators for the benchmark.

Two families, both pure numpy/pyarrow (no Spark), so generation time is
never part of a timed operation:

* :class:`UploadWriter` — the reference's upload drop,
  ``<root>/<facility_id>/<table>_<batch>_<yyyymmddHHMMSS>[_decrypted].json``
  with one JSON array per file, plus the planted truth every ingest check
  compares against (per-file status, valid/quarantined row counts).
* :func:`warehouse_tables` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` in the column layout the package's
  catalog reads, at a chosen scale factor.

The reference fixes only the directory layout, the filename grammar and
the 50k-files-per-cycle cap. Everything else here (facility count, table
mix, rows-per-file skew, bad-file rates) is a stated traffic assumption,
listed in :data:`TRAFFIC` and printed with every result.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

#: Stated traffic assumptions for the upload generator.
TRAFFIC = {
    # share of files per registered table (the four transform shapes)
    "table_mix": {
        "patient_person": 0.35,  # constant masking
        "hts_client": 0.30,  # JSON-struct masking
        "hts_index_elicitation": 0.20,  # constant masking
        "biometric": 0.15,  # column exclusion
    },
    # rows per file ~ lognormal(median, sigma), clipped
    "rows_median": 60,
    "rows_sigma": 1.0,
    "rows_max": 2000,
    # planted bad-file rates (per file)
    "malformed_rate": 0.01,
    "empty_rate": 0.01,
    "all_null_rate": 0.005,
    "bad_date_rate": 0.02,
    # share of files carrying the optional `_decrypted` name suffix
    "decrypted_rate": 0.1,
}

MASK = "******"
#: every planted PII value starts with this marker, so a mask check is
#: "no staged value contains it"
PII_MARK = "PII"
BAD_DATE = "99/99/9999"

@dataclass(frozen=True)
class FileTruth:
    """What the engine must report for one planted upload file."""

    facility: str
    file_name: str
    table: str
    kind: str  # ok | malformed | empty | all_null | bad_date
    n_valid: int
    n_bad: int
    #: uuids of staged patient_person rows with archived = 0 (the
    #: refresh_patient_counts input)
    active_uuids: tuple[str, ...] = ()

    @property
    def status(self) -> str:
        return "success" if self.kind == "ok" else "failed"

    @property
    def key(self) -> str:
        return f"{self.facility}/{self.file_name}"


def _words(rng: np.random.Generator, n: int, width: int = 6) -> list[str]:
    """``n`` random lowercase words, drawn in one vectorized call."""
    codes = rng.integers(97, 123, (n, width), dtype=np.uint8)
    return [bytes(r).decode() for r in codes]


def _dates(rng: np.random.Generator, n: int) -> list[str]:
    y = rng.integers(1950, 2024, n)
    m = rng.integers(1, 13, n)
    d = rng.integers(1, 29, n)
    return [f"{a:04d}-{b:02d}-{c:02d}" for a, b, c in zip(y, m, d)]


#: tables whose PII columns are overwritten with a constant mask
MASKED_TABLES = ("patient_person", "hts_index_elicitation")

#: PII columns per table (the values the masking transforms must hide)
PII_COLS = {
    "patient_person": (
        "surname", "first_name", "other_name", "full_name", "hospital_number", "nin_number"
    ),
    "hts_client": ("surname", "first_name", "middle_name", "phone_number", "hospital_number"),
    "hts_index_elicitation": (
        "last_name", "first_name", "middle_name", "phone_number", "alt_phone_number"
    ),
    "biometric": (),
}


def _records(
    rng: np.random.Generator, table: str, first_id: int, n: int, facility: str
) -> list[dict]:
    """``n`` records of ``table`` with ids ``first_id..``; every PII value
    carries :data:`PII_MARK`."""
    uuids = ["%032x" % u for u in rng.integers(0, 2**63, n)]
    dates = _dates(rng, n)
    pii = {c: [PII_MARK + w for w in _words(rng, n)] for c in PII_COLS[table]}
    out = []
    for i in range(n):
        rid = first_id + i
        if table == "patient_person":
            r = {"id": rid, "uuid": uuids[i]}
            r.update({c: v[i] for c, v in pii.items()})
            r.update(date_of_birth=dates[i], archived=int(rid % 10 == 0), facility_id=facility)
        elif table == "hts_client":
            payload = {c: v[i] for c, v in pii.items()}
            payload.update(risk_score=rid % 10, tested_before=rid % 2 == 0)
            r = {
                "id": rid,
                "uuid": uuids[i],
                "date_visit": dates[i],
                "extra": {"type": "hts", "value": json.dumps(payload)},
            }
        elif table == "hts_index_elicitation":
            r = {"id": rid, "uuid": uuids[i]}
            r.update({c: v[i] for c, v in pii.items()})
            r["date_of_birth"] = dates[i]
        else:
            r = {
                "id": rid,
                "uuid": uuids[i],
                "match_type": "fingerprint",
                "match_person_uuid": uuids[i],
                "match_biometric_id": str(rid),
                "date_enrollment": dates[i],
                "template": uuids[i] * 3,
            }
        out.append(r)
    return out


#: the date column each table carries (the quarantine target)
DATE_COL = {
    "patient_person": "date_of_birth",
    "hts_client": "date_visit",
    "hts_index_elicitation": "date_of_birth",
    "biometric": "date_enrollment",
}


class UploadWriter:
    """Writes planted upload files under ``root`` and remembers their truth.

    One writer serves a whole run: the backfill drop and every later cron
    tick draw from the same seeded stream, and file timestamps/batch ids
    keep increasing, so names never collide across ticks."""

    def __init__(self, root: str, seed: int, n_facilities: int) -> None:
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.facilities = [f"FAC{seed % 1000:03d}{i:04d}" for i in range(n_facilities)]
        self.tables = list(TRAFFIC["table_mix"])
        self.table_p = np.array(list(TRAFFIC["table_mix"].values()))
        self.table_p = self.table_p / self.table_p.sum()
        self.truth: dict[str, FileTruth] = {}
        self._seq = 0
        self._rid = 0
        os.makedirs(root, exist_ok=True)

    def _rows(self) -> int:
        t = TRAFFIC
        n = self.rng.lognormal(np.log(t["rows_median"]), t["rows_sigma"])
        return int(min(t["rows_max"], max(1, round(n))))

    def _kind(self) -> str:
        t, u = TRAFFIC, self.rng.random()
        for kind in ("malformed", "empty", "all_null", "bad_date"):
            if u < t[f"{kind}_rate"]:
                return kind
            u -= t[f"{kind}_rate"]
        return "ok"

    def write_file(
        self, table: str | None = None, kind: str | None = None, facility: str | None = None
    ) -> FileTruth:
        rng = self.rng
        table = table or str(rng.choice(self.tables, p=self.table_p))
        kind = kind or self._kind()
        facility = facility or str(rng.choice(self.facilities))
        self._seq += 1
        # 14-digit timestamps increase with the sequence: queue order is
        # file-timestamp order, as in the reference's dequeue
        ts = 20250101000000 + self._seq * 7
        suffix = "_decrypted" if rng.random() < TRAFFIC["decrypted_rate"] else ""
        name = f"{table}_{self._seq}_{ts:014d}{suffix}.json"
        d = os.path.join(self.root, facility)
        os.makedirs(d, exist_ok=True)
        n = self._rows()
        n_valid = n_bad = 0
        active: tuple[str, ...] = ()
        if kind == "malformed":
            # a truncated array: the whole file is one corrupt record
            body = json.dumps(_records(rng, table, self._rid, 2, facility))[:-9]
        elif kind == "empty":
            body = "" if rng.random() < 0.5 else "[]"
        elif kind == "all_null":
            body = json.dumps([{} for _ in range(max(1, n // 10))])
        else:
            recs = _records(rng, table, self._rid + 1, n, facility)
            self._rid += n
            if kind == "bad_date":
                n_bad = int(rng.integers(1, min(3, n) + 1))
                for r in recs[:n_bad]:
                    r[DATE_COL[table]] = BAD_DATE
            n_valid = n - n_bad
            if table == "patient_person":
                active = tuple(r["uuid"] for r in recs[n_bad:] if r["archived"] == 0)
            body = json.dumps(recs)
        with open(os.path.join(d, name), "w") as f:
            f.write(body)
        if kind == "all_null" and table in MASKED_TABLES:
            # masking runs before the all-null drop (the reference's
            # transform-then-dropna order), so an all-null record of a
            # constant-masked table is no longer all-null: it is staged
            # as a row of masks and the file succeeds
            kind, n_valid = "ok", body.count("{}")
        t = FileTruth(facility, name, table, kind, n_valid, n_bad, active)
        self.truth[t.key] = t
        return t

    def write_drop(self, n_files: int) -> list[FileTruth]:
        return [self.write_file() for _ in range(n_files)]

    def input_bytes(self) -> int:
        total = 0
        for dirpath, _d, files in os.walk(self.root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total


# ----------------------------------------------------------------------
# warehouse tables (catalog layout)
# ----------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
#: document length in tokens
DOC_TOKENS = (40, 100)


def warehouse_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten catalog tables as parquet under ``out_dir``. Column
    names, types and timestamp encodings match what ``catalog.load_table``
    and the registered queries' oracles expect."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def n_of(base: int) -> int:
        return max(1, int(round(base * sf)))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(lo: str, hi: str, n: int) -> pa.Array:
        """Midnight timestamps (µs) drawn uniformly from [lo, hi)."""
        a = np.datetime64(lo, "D").astype(np.int64)
        b = np.datetime64(hi, "D").astype(np.int64)
        return pa.array(rng.integers(a, b, n) * 86_400_000_000, pa.timestamp("us"))

    put(
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    nc = n_of(150_000)
    put(
        "customer",
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], nc
            ),
        },
    )
    ns = n_of(1_000)
    put(
        "supplier",
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, ns),
        },
    )
    npart = n_of(200_000)
    adj = ["red", "new", "hot", "small", "large", "cold", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
    put(
        "part",
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(
                ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], npart
            ),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        },
    )
    no = n_of(1_500_000)
    put(
        "orders",
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["P", "O", "F"], no),
            "o_totalprice": money(1000.0, 500000.0, no),
            "o_orderdate": days("1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        },
    )
    nl = n_of(6_000_000)
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": rng.choice(["N", "R", "A"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": days("1995-01-02", "2001-11-04", nl),
        },
    )
    ne = n_of(1_000_000)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, ne))
    put(
        "events",
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_of(15_000), ne), pa.int64()),
            "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
    )
    docs = documents(n_of(50_000), rng)
    put(
        "documents",
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "lang": [d[2] for d in docs],
            "source": [f"src{d[0] % 20}" for d in docs],
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        },
    )
    nv = n_of(20_000)
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        },
    )


def documents(n: int, rng: np.random.Generator) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) rows: random VOCAB token runs, unique texts."""
    out, seen = [], set()
    lo, hi = DOC_TOKENS
    for i in range(n):
        while True:
            text = " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi + 1))))
            if text not in seen:
                seen.add(text)
                break
        out.append((i, text, str(rng.choice(LANGS, p=LANG_P))))
    return out
