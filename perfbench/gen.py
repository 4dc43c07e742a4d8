"""Deterministic input generators for the benchmark workloads.

Run as a script it writes one workload's inputs into an empty directory and
prints a JSON summary of what it wrote (rows, bytes, row groups, expected
offers). The benchmark runs it in a child interpreter so that the imports it
needs (NumPy, PyArrow) do not pre-warm the engine's own set-up.

    python3 perfbench/gen.py --workload relational --seed 1 --out DIR

Tables mirror the shape of the engine's parquet testdata: a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``, with the same
column names, types and value domains. Table contents use a fixed data seed,
so the relational and curation inputs (and every Spark count on them) do not
depend on ``--seed``; the seed orders the relational ops and generates the
job-board HTML of ``offers_etl``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Scale of the generated star schema (rows = TPC-H cardinality x SF).
RELATIONAL_SF = 0.01
RELATIONAL_ROW_GROUPS = 16
CURATION_DOCS = 500
CURATION_EMBEDDINGS = 500
EMBEDDING_DIM = 64

# offers_etl: 2 sites x 2 regions x 2 experience levels, one day per pass
# on top of K older ingest dates written untimed during input generation.
SITES = ("jjit", "ppl")
REGIONS = ("waw", "gd")
EXPERIENCE = ("junior", "senior")
OFFERS_DOCS_PER_LEAF = 5
OFFERS_PER_DOC = 150
OFFERS_OLDER_DATES = 3
OFFERS_OLDER_DOCS_PER_LEAF = 1  # older dates matter only to partition pruning
OFFERS_FIRST_DATE = dt.date(2024, 3, 1)

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
REGION_NAMES = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

US_PER_DAY = 86_400_000_000


def _days(rng: np.random.Generator, start: dt.date, ndays: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, ndays, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star_schema(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGION_NAMES)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(start + offs, pa.timestamp("us")),
            "user_id": rng.integers(0, n_cust, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    return t


def corpus(n_docs: int, n_emb: int, rng: np.random.Generator) -> dict[str, pa.Table]:
    """Bag-of-words documents (5% near-duplicates with a trailing token, a
    few exact duplicates) and unit-norm Gaussian embeddings."""
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    vec = rng.standard_normal((n_emb, EMBEDDING_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "documents": pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMBEDDING_DIM).cast(
                    pa.list_(pa.float32())
                ),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
    }


def write_tables(tables: dict[str, pa.Table], out: str, row_groups: int) -> dict:
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        rows_per_group = max(1, -(-table.num_rows // row_groups))
        pq.write_table(table, path, row_group_size=rows_per_group)
        meta = pq.ParquetFile(path).metadata
        sizes[name] = {
            "rows": table.num_rows,
            "bytes": os.path.getsize(path),
            "row_groups": meta.num_row_groups,
        }
    return sizes


# --- offers_etl: job-board HTML for both DOM contracts ----------------------

TITLES = (
    "Python Developer", "Data Engineer", "Analityk Danych", "Inżynier DevOps",
    "Programista C++", "Specjalista ds. Baz Danych", "Frontend Developer (React)",
    "QA Tester", "Site Reliability Engineer", "Architekt Rozwiązań",
)
COMPANIES = (
    "Acme Sp. z o.o.", "Initech", "Hooli S.A.", "Globex\xa0Sp.\xa0z\xa0o.o.",
    "Umbrella IT", "Soylent  Corp", "Stark Industries",
)


def _thousands(v: int, sep: str) -> str:
    s = f"{v:,}"
    return s.replace(",", sep)


def _clean_position(s: str) -> str:
    kept = re.sub(r"[^A-Za-z0-9 .,()\-]", "", s)
    return re.sub(r" {2,}", " ", kept).strip(" ")


def _clean_text(s: str) -> str:
    return " ".join(s.replace("\xa0", " ").split())


def _offer(rng: random.Random, site: str, level: str) -> tuple[str, tuple]:
    """One offer: its DOM markup and the staging row the pipeline must
    produce for it (CSV strings, "" for missing)."""
    title = f"{level} {rng.choice(TITLES)}"
    company = rng.choice(COMPANIES)
    form = rng.randrange(6)
    lo = rng.randrange(40, 250) * 100
    hi = lo + rng.randrange(1, 60) * 100
    sep = rng.choice(("\xa0", " "))
    cur, period = "PLN", "month"
    if form == 0:  # range
        mn, mx = lo, hi
    elif form == 1:  # single value
        mn = mx = lo
    elif form == 2:  # hourly, with a decimal comma
        mn = mx = rng.randrange(60, 250) + rng.randrange(4) * 0.25
        period = "h"
    elif form == 3:  # range in another currency
        mn, mx, cur = lo // 4, hi // 4, rng.choice(("EUR", "USD"))
    elif form == 4:  # missing
        mn = mx = cur = period = None
    else:  # nested spans (ppl) / three-span range (jjit)
        mn, mx = lo, hi

    def num(v) -> str:
        if isinstance(v, float) and not v.is_integer():
            return f"{v:.2f}".rstrip("0").replace(".", ",")
        return _thousands(int(v), sep)

    if site == "jjit":
        if mn is None:
            spans: list[str] = []
        elif mn == mx and form != 0:
            spans = [num(mn), f"{cur}/{period}"]
        else:
            spans = [num(mn), num(mx), f"{cur}/{period}"]
        salary = "".join(f"<span>{s}</span>" for s in spans)
        markup = (
            f"<h3>{title}</h3><a><div><div><p>{company}</p></div></div></a>"
            f"<h6>{salary}</h6>"
        )
    else:
        cur_txt = "zł" if cur == "PLN" else cur
        per_txt = {"month": "mies.", "h": "godz."}.get(period)
        if mn is None:
            salary = ""
        elif form == 5:
            salary = (
                f"<span data-test='offer-salary'><span>{num(mn)}</span>–"
                f"<span>{num(mx)}</span> {cur_txt} brutto / {per_txt}</span>"
            )
        elif mn == mx:
            salary = f"<span data-test='offer-salary'>{num(mn)} {cur_txt} brutto / {per_txt}</span>"
        else:
            salary = (
                f"<span data-test='offer-salary'>{num(mn)}–{num(mx)} "
                f"{cur_txt} netto (+ VAT) / {per_txt}</span>"
            )
        markup = (
            f"<a data-test='link-offer-title'>{title}</a>"
            f"<h3 data-test='text-company-name'>{company}</h3>{salary}"
        )

    def fmt(v) -> str:
        if v is None:
            return ""
        return f"{v:.2f}".rstrip("0").rstrip(".")

    row = (
        _clean_position(title),
        _clean_text(company),
        fmt(mn),
        fmt(mx),
        cur or "",
        period or "",
    )
    return markup, row


def _document(rng: random.Random, site: str, level: str, n: int) -> tuple[str, list]:
    rows, parts = [], []
    for i in range(n):
        markup, row = _offer(rng, site, level)
        rows.append(row)
        if site == "jjit":
            parts.append(f'<li data-index="{i}">{markup}</li>')
        else:
            parts.append(f"<div data-test='default-offer'>{markup}</div>")
    if site == "jjit":
        html = "<ul>" + "".join(parts) + "</ul>"
    else:
        html = (
            "<html><body><div data-test='section-offers'>"
            + "".join(parts)
            + "</div></body></html>"
        )
    return html, rows


def leaves() -> list[tuple[str, str, str]]:
    return [(s, r, e) for s in SITES for r in REGIONS for e in EXPERIENCE]


def leaf_name(leaf: tuple[str, str, str]) -> str:
    return "-".join(leaf)


def offers_inputs(out: str, seed: int) -> dict:
    """Older raw-zone partitions (Hive layout, as write_raw lays them out),
    one landing parquet per leaf holding the timed day's documents, and the
    staging rows each leaf must produce."""
    rng = random.Random(f"offers-{DATA_SEED}-{seed}")
    zone = os.path.join(out, "raw_zone")
    landing = os.path.join(out, "landing")
    os.makedirs(landing)
    day = OFFERS_FIRST_DATE + dt.timedelta(days=OFFERS_OLDER_DATES)
    expected: dict[str, list] = {}
    doc_id = 0
    html_bytes = files = 0
    for leaf in leaves():
        site, region, exp = leaf
        level = exp.capitalize()
        for k in range(OFFERS_OLDER_DATES + 1):
            date = OFFERS_FIRST_DATE + dt.timedelta(days=k)
            docs, rows = [], []
            for _ in range(OFFERS_DOCS_PER_LEAF if date == day else OFFERS_OLDER_DOCS_PER_LEAF):
                html, r = _document(rng, site, level, OFFERS_PER_DOC)
                docs.append((doc_id, html))
                rows.extend(r)
                doc_id += 1
            ids = pa.array([d[0] for d in docs], pa.int64())
            htmls = pa.array([d[1] for d in docs], pa.string())
            if date < day:
                part = os.path.join(
                    zone, f"site={site}", f"region={region}",
                    f"experience={exp}", f"ingest_date={date.isoformat()}",
                )
                os.makedirs(part)
                pq.write_table(
                    pa.table({"doc_id": ids, "html": htmls}),
                    os.path.join(part, "part-00000.parquet"),
                )
                files += 1
            else:
                n = len(docs)
                pq.write_table(
                    pa.table(
                        {
                            "doc_id": ids,
                            "html": htmls,
                            "site": [site] * n,
                            "region": [region] * n,
                            "experience": [exp] * n,
                            "ingest_date": pa.array([day] * n, pa.date32()),
                        }
                    ),
                    os.path.join(landing, f"{leaf_name(leaf)}.parquet"),
                )
                expected[leaf_name(leaf)] = sorted(rows)
                html_bytes += int(htmls.nbytes)
    with open(os.path.join(out, "expected.json"), "w", encoding="utf-8") as fh:
        json.dump(expected, fh)
    return {
        "leaves": len(expected),
        "docs_per_leaf": OFFERS_DOCS_PER_LEAF,
        "offers_per_pass": sum(len(v) for v in expected.values()),
        "day_html_mb": round(html_bytes / 2**20, 2),
        "older_dates": OFFERS_OLDER_DATES,
        "older_files": files,
        "day": day.isoformat(),
    }


def digest(out: str) -> str:
    """SHA-256 over every file written, in path order."""
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(out)):
        for name in sorted(files):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload: str, seed: int, out: str) -> dict:
    if os.path.exists(out) and os.listdir(out):
        raise SystemExit(f"output directory is not empty: {out}")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    if workload == "relational":
        tables = star_schema(RELATIONAL_SF, rng)
        return {"sf": RELATIONAL_SF, "tables": write_tables(tables, out, RELATIONAL_ROW_GROUPS)}
    if workload == "curation":
        tables = corpus(CURATION_DOCS, CURATION_EMBEDDINGS, rng)
        return {"tables": write_tables(tables, out, 1)}
    if workload == "offers_etl":
        return offers_inputs(out, seed)
    raise SystemExit(f"unknown workload: {workload}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    summary = generate(a.workload, a.seed, a.out)
    summary["digest"] = digest(a.out)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
