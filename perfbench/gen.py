"""Seeded input generator for the three benchmark workloads.

One process, one thread, numpy only. Every size is fixed; the seed only
changes the random draws, so run-to-run timing differences come from the
system, not from a different amount of work. The same seed always gives
byte-identical files (gzip and parquet carry no timestamps).

Layouts (all under one input directory):

- scanlog_nightly: ``feeds/day-XX.csv.gz`` (one gzipped scan log per day),
  ``feeds-datapackage.json`` (resources[].path key lists, the reference's
  COPY-manifest source), and the three dimension datapackages.
- star_rebuild: ``fact_history/part-XX.parquet`` plus the three dimension
  datapackages.
- corpus_prepare: ``documents.parquet`` in the (doc_id, text, lang,
  source, n_chars) shape of the engine's documents table.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- shared dimension universe ---------------------------------------------

N_COUNTRIES = 60
N_ASNS = 400
# risk ids present in the fact; the last one is absent from dim_risk, so
# the amplification join has unmatched rows to leave at 0.0
RISKS = (1, 2, 4, 5, 6, 7, 9)
RISK_DIM_IDS = RISKS[:-1]
# exact binary fractions keep count * factor and its decimal(30,6) sum
# identical in every engine
RISK_FACTORS = (0.5, 1.0, 2.25, 4.0, 30.0, 556.75)
DIM_COUNTRY_SHARE = 0.9  # the rest are missing from dim_country
DIM_ASN_SHARE = 0.85  # the rest are missing from dim_asn

# --- scanlog_nightly -------------------------------------------------------

SCAN_DAYS = 8
SCAN_ROWS_PER_DAY = 40_000
SCAN_IPS = 30_000
SCAN_BAD_SHARE = 0.003  # rows with a malformed risk or asn
SCAN_THRESHOLD = 100

# --- star_rebuild ----------------------------------------------------------

STAR_DAYS = 730
STAR_ROWS = 200_000
STAR_FILES = 4

# --- corpus_prepare --------------------------------------------------------

CORPUS_DOCS = 1_000
CORPUS_NEAR_DUP_SHARE = 0.08
CORPUS_FOOTER_SHARE = 0.05
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
SOURCES = tuple(f"src{i}" for i in range(5))
BASE_CORPUS_SEED = 20_160_805  # the untransformed corpus is one fixed table


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _country_codes() -> list[str]:
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    codes = [a + b for a in letters for b in letters if a != b]
    # 'XY' is the repair fallback and 'T' the cube sentinel: keep them out
    return [c for c in codes if c != "XY"][:N_COUNTRIES]


class Universe:
    """Countries, ASNs (each with a home country) and which of them the
    dimension tables know."""

    def __init__(self, rng: np.random.Generator):
        self.countries = _country_codes()
        self.asns = np.sort(rng.choice(np.arange(1000, 70_000), N_ASNS, replace=False))
        self.asn_home = rng.integers(0, N_COUNTRIES, N_ASNS)
        self.country_known = rng.random(N_COUNTRIES) < DIM_COUNTRY_SHARE
        self.asn_known = rng.random(N_ASNS) < DIM_ASN_SHARE
        # ASNs are drawn Zipf by index, so 0 and 1 are the busiest: on every
        # seed the fact has an ASN and a country that need repair, and the
        # repaired dimensions keep the same shape
        self.asn_known[0] = False
        self.country_known[self.asn_home[1]] = False


def _write_bytes(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _write_json(path: str, obj: dict) -> None:
    _write_bytes(path, (json.dumps(obj, indent=2, sort_keys=True) + "\n").encode())


def _csv_bytes(header: list[str], rows) -> bytes:
    buf = io.StringIO()
    buf.write(",".join(header) + "\n")
    for row in rows:
        buf.write(",".join(row) + "\n")
    return buf.getvalue().encode()


def _descriptor(name: str, fields: list[tuple[str, str]]) -> dict:
    return {
        "name": name,
        "resources": [
            {
                "name": name,
                "path": f"data/{name}.csv",
                "format": "csv",
                "schema": {"fields": [{"name": n, "type": t} for n, t in fields]},
            }
        ],
    }


def write_dimensions(out: str, uni: Universe) -> None:
    """risk/country/asn Frictionless datapackages with their CSVs."""
    risk_rows = [
        [str(r), f"risk-{r}", f"Risk {r}", str(f), f'"open service {r}, ""seeded"""']
        for r, f in zip(RISK_DIM_IDS, RISK_FACTORS)
    ]
    _write_bytes(
        f"{out}/data/risk.csv",
        _csv_bytes(["id", "slug", "title", "amplification_factor", "description"], risk_rows),
    )
    _write_json(
        f"{out}/risk-datapackage.json",
        _descriptor("risk", [("id", "integer"), ("slug", "string"), ("title", "string"),
                             ("amplification_factor", "number"), ("description", "string")]),
    )
    country_rows = [
        [c, f"Country {c}", c.lower(), f"region-{i % 7}", f"continent-{i % 5}"]
        for i, c in enumerate(uni.countries)
        if uni.country_known[i]
    ]
    _write_bytes(
        f"{out}/data/country.csv",
        _csv_bytes(["id", "name", "slug", "region", "continent"], country_rows),
    )
    _write_json(
        f"{out}/country-datapackage.json",
        _descriptor("country", [("id", "string"), ("name", "string"), ("slug", "string"),
                                ("region", "string"), ("continent", "string")]),
    )
    asn_rows = [
        [str(a), f"AS{a} network", uni.countries[uni.asn_home[i]]]
        for i, a in enumerate(uni.asns)
        if uni.asn_known[i]
    ]
    _write_bytes(f"{out}/data/asn.csv", _csv_bytes(["number", "title", "country"], asn_rows))
    _write_json(
        f"{out}/asn-datapackage.json",
        _descriptor("asn", [("number", "integer"), ("title", "string"), ("country", "string")]),
    )


def _ip_strings(n: int, rng: np.random.Generator) -> np.ndarray:
    octets = rng.integers(1, 255, size=(n, 4))
    return np.array([f"{a}.{b}.{c}.{d}" for a, b, c, d in octets])


def gen_scanlog(out: str, seed: int) -> dict:
    """Eight days of gzipped scan logs: Zipf-skewed IPs and ASNs, two
    timestamp shapes, a small share of malformed numerics."""
    rng = np.random.default_rng([seed, 1])
    uni = Universe(rng)
    write_dimensions(out, uni)
    ips = _ip_strings(SCAN_IPS, rng)
    # each IP lives in one ASN (Zipf over ASNs), each ASN mostly in its
    # home country
    ip_asn = rng.choice(N_ASNS, SCAN_IPS, p=_zipf_p(N_ASNS, 1.1))
    ip_country = np.where(
        rng.random(SCAN_IPS) < 0.95, uni.asn_home[ip_asn], rng.integers(0, N_COUNTRIES, SCAN_IPS)
    )
    ip_p = _zipf_p(SCAN_IPS, 0.8)
    risk_p = _zipf_p(len(RISKS), 0.7)
    countries = np.array(uni.countries)
    start = dt.date(2016, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    keys = []
    for d in range(SCAN_DAYS):
        day = start + dt.timedelta(days=d)
        n = SCAN_ROWS_PER_DAY
        ip_idx = rng.choice(SCAN_IPS, n, p=ip_p)
        risk = np.array(RISKS)[rng.choice(len(RISKS), n, p=risk_p)].astype(str)
        asn = uni.asns[ip_asn[ip_idx]].astype(str)
        bad = rng.random(n) < SCAN_BAD_SHARE
        bad_asn = bad & (rng.random(n) < 0.5)
        risk = np.where(bad & ~bad_asn, rng.choice(["n/a", "x7", ""], n), risk)
        asn = np.where(bad_asn, rng.choice(["AS?", "-", "12q"], n), asn)
        secs = rng.integers(0, 86_400, n)
        iso = rng.random(n) < 0.5
        ymd = day.isoformat()
        ts = [
            f"{ymd}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}+00:00" if i
            else f"{ymd} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}.0+00"
            for s, i in zip(secs.tolist(), iso.tolist())
        ]
        rows = zip(ts, ips[ip_idx].tolist(), risk.tolist(), asn.tolist(),
                   countries[ip_country[ip_idx]].tolist())
        text = "ts,ip,risk_id,asn,cc\n" + "".join(",".join(r) + "\n" for r in rows)
        key = f"feeds/day-{d:02d}.csv.gz"
        _write_bytes(f"{out}/{key}", gzip.compress(text.encode(), 6, mtime=0))
        keys.append(key)
    # datapackage whose resources[].path lists are the manifest keys; one
    # empty list, which create_manifest must skip
    _write_json(
        f"{out}/feeds-datapackage.json",
        {"name": "scan-feeds", "resources": [
            {"name": "feeds-a", "path": keys[: SCAN_DAYS // 2]},
            {"name": "feeds-empty", "path": []},
            {"name": "feeds-b", "path": keys[SCAN_DAYS // 2:]},
        ]},
    )
    return {"rows": SCAN_DAYS * SCAN_ROWS_PER_DAY}


FACT_SCHEMA = pa.schema([
    ("date", pa.date32()),
    ("risk", pa.int32()),
    ("country", pa.string()),
    ("asn", pa.int64()),
    ("count", pa.int64()),
    ("count_amplified", pa.float64()),
])


def gen_star(out: str, seed: int) -> dict:
    """A multi-year stage-1 fact history, some of whose countries and
    ASNs are missing from the dimensions."""
    rng = np.random.default_rng([seed, 2])
    uni = Universe(rng)
    write_dimensions(out, uni)
    n = STAR_ROWS
    start = dt.date(2014, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    day = rng.integers(0, STAR_DAYS, n)
    asn_idx = rng.choice(N_ASNS, n, p=_zipf_p(N_ASNS, 1.1))
    country_idx = np.where(
        rng.random(n) < 0.9, uni.asn_home[asn_idx], rng.integers(0, N_COUNTRIES, n)
    )
    risk = np.array(RISKS, dtype=np.int32)[rng.choice(len(RISKS), n, p=_zipf_p(len(RISKS), 0.7))]
    count = (100 + rng.zipf(1.6, n).clip(max=50_000)).astype(np.int64)
    factor = dict(zip(RISK_DIM_IDS, RISK_FACTORS))
    amp = np.array([factor.get(int(r), 0.0) for r in risk]) * count
    dates = np.array([start + dt.timedelta(days=int(d)) for d in range(STAR_DAYS)])[day]
    table = pa.table(
        [
            pa.array(dates, pa.date32()),
            pa.array(risk, pa.int32()),
            pa.array(np.array(uni.countries)[country_idx], pa.string()),
            pa.array(uni.asns[asn_idx], pa.int64()),
            pa.array(count, pa.int64()),
            pa.array(amp, pa.float64()),
        ],
        schema=FACT_SCHEMA,
    )
    os.makedirs(f"{out}/fact_history", exist_ok=True)
    step = -(-n // STAR_FILES)
    for i in range(STAR_FILES):
        pq.write_table(table.slice(i * step, step), f"{out}/fact_history/part-{i:02d}.parquet")
    return {"rows": n}


def _base_corpus() -> list[list[str]]:
    rng = np.random.default_rng(BASE_CORPUS_SEED)
    lengths = rng.integers(10, 101, CORPUS_DOCS)
    return [list(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths]


def gen_corpus(out: str, seed: int) -> dict:
    """A seeded transform of one fixed base corpus: near-duplicates and a
    shared footer span injected, then row order shuffled and doc_ids
    relabelled. The doc count stays CORPUS_DOCS."""
    rng = np.random.default_rng([seed, 3])
    docs = _base_corpus()
    n = len(docs)
    # near-duplicates: overwrite a doc with a copy of another that has one
    # word substituted every 12 words — trigram Jaccard stays above the
    # dedup threshold while no 16-word span survives intact
    n_dup = int(n * CORPUS_NEAR_DUP_SHARE)
    picks = rng.choice(n, 2 * n_dup, replace=False)
    for src, dst in zip(picks[:n_dup], picks[n_dup:]):
        copy = list(docs[src])
        for pos in range(int(rng.integers(0, 12)), len(copy), 12):
            copy[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        docs[dst] = copy
    # a shared 20-word footer on a few long docs, for the span rewrite
    footer = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), 20)])
    long_docs = [i for i, d in enumerate(docs) if len(d) >= 60]
    for i in rng.choice(long_docs, int(n * CORPUS_FOOTER_SHARE), replace=False):
        docs[i] = docs[i] + footer
    order = rng.permutation(n)
    ids = np.sort(rng.choice(np.arange(n * 4), n, replace=False))
    texts = [" ".join(docs[i]) for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array(np.array(SOURCES)[ids % len(SOURCES)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, f"{out}/documents.parquet")
    return {"rows": n}


GENERATORS = {
    "scanlog_nightly": gen_scanlog,
    "star_rebuild": gen_star,
    "corpus_prepare": gen_corpus,
}


def generate(workload: str, out: str, seed: int) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` and
    return facts about them (``rows``: the input row or doc count)."""
    info = GENERATORS[workload](out, seed)
    _write_json(f"{out}/inputs.json", {"workload": workload, "seed": seed, **info})
    return info
