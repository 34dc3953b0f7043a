"""Seeded input generator for the two benchmark workloads.

Everything a run feeds the program is derived from ``--seed`` here and
written as plain Parquet under ``--out``; the facts a
correctness check needs (planted near-duplicates and exact copies,
per-export row counts and checksums, the expected freshness decisions)
are written beside them as ``facts.json``. The generator never imports
the program, so its output is an independent expectation.

Run it alone to inspect the inputs::

    python3 perfbench/gen.py --workload corpus_ingest --seed 1 --out /tmp/x
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per workload and size preset. "full" is what the benchmark
#: measures; "tiny" keeps the self-test fast.
SIZES = {
    "full": {
        "jdbc_sync": {"lineitem": 30_000, "funda": 8_000, "company": 2_500,
                      "dsi": 1_000, "cold": 500, "n_cold": 2},
        "corpus_ingest": {"corpus": 1_500, "batch": 300},
    },
    "tiny": {
        "jdbc_sync": {"lineitem": 2_000, "funda": 600, "company": 200,
                      "dsi": 100, "cold": 50, "n_cold": 2},
        "corpus_ingest": {"corpus": 600, "batch": 100},
    },
}

SOURCE_SCHEMA = "src"
HOT_TABLES = ("lineitem", "funda", "company", "dsi")
#: Derby stores a Spark string column as CLOB, and CLOB cannot be
#: compared in a WHERE clause, so the pushed-down filter is numeric.
FUNDA_EXPORT = {
    "keep": r"^(gvkey|datadate|fyear|indfmt|at|lt|sale|ni|ceq)$",
    "rename": {"at": "total_assets"},
    "col_types": {"total_assets": "decimal(18,3)"},
    "where": '"fyear" >= 2000',
}
#: base date of the source freshness comments; op k stamps the hot
#: tables with BASE_DAY + k + 1 days
BASE_DAY = np.datetime64("2024-01-01")


def comment_for(day: np.datetime64) -> str:
    """A source freshness comment in the reference's WRDS style."""
    y, m, d = str(day).split("-")
    return f"Last modified: {m}/{d}/{y} 12:00:00"


def _write(table: pa.Table, path: Path) -> None:
    """Write ``table`` as a one-file Parquet table directory (the
    repository's layout, so ``Engine.read_pq`` can load it)."""
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / "part-00000.parquet")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start, span):
    return (np.datetime64(start) + rng.integers(0, span, n)
            .astype("timedelta64[D]"))


def _words(rng, n, lo, hi, alphabet="abcdefghijklmnopqrstuvwxyz"):
    letters = np.array(list(alphabet))
    lens = rng.integers(lo, hi + 1, n)
    flat = letters[rng.integers(0, len(letters), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return np.array(["".join(w) for w in np.split(flat, cuts)], dtype=object)


# -- jdbc_sync ---------------------------------------------------------------

def _jdbc_tables(rng, size: dict) -> dict[str, pa.Table]:
    n = size["lineitem"]
    lineitem = pa.table({
        "l_id": np.arange(n, dtype=np.int64),
        "l_orderkey": np.sort(rng.integers(0, n // 4, n)).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105_000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", 2500),
    })
    n = size["funda"]
    # values are multiples of 1/8 so the decimal(18,3) cast is exact in
    # every engine (a double like 0.29 truncates or rounds differently)
    eighths = lambda lo, hi: rng.integers(lo * 8, hi * 8, n) / 8.0  # noqa: E731
    funda = pa.table({
        "gvkey": np.array([f"{k:06d}" for k in rng.integers(1000, 40_000, n)]),
        "datadate": _days(rng, n, "1990-01-31", 12_000),
        "fyear": rng.integers(1990, 2024, n).astype(np.int32),
        "indfmt": rng.choice(["INDL", "FS"], n),
        "datafmt": rng.choice(["STD", "SUMM_STD"], n),
        "consol": rng.choice(["C", "N", "P"], n),
        "popsrc": rng.choice(["D", "I"], n),
        "at": eighths(0, 500_000),
        "lt": eighths(0, 300_000),
        "sale": eighths(0, 200_000),
        "ni": eighths(-5_000, 20_000),
        "ceq": eighths(-1_000, 100_000),
        "csho": _money(rng, n, 0, 5_000),
        "prcc_f": _money(rng, n, 0, 900),
    })
    n = size["company"]
    company = {"gvkey": np.array([f"{k:06d}" for k in range(1000, 1000 + n)])}
    for j in range(39):
        company[f"c{j:02d}"] = _words(rng, n, 4, 14, "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ")
    company = pa.table(company)
    n = size["dsi"]
    dsi = pa.table({
        "date": np.datetime64("1990-01-02") + np.arange(n).astype("timedelta64[D]"),
        "vwretd": np.round(rng.normal(0, 0.01, n), 6),
        "vwretx": np.round(rng.normal(0, 0.01, n), 6),
        "ewretd": np.round(rng.normal(0, 0.01, n), 6),
        "ewretx": np.round(rng.normal(0, 0.01, n), 6),
        "sprtrn": np.round(rng.normal(0, 0.01, n), 6),
        "spindx": _money(rng, n, 300, 5_000),
        "totval": _money(rng, n, 1e6, 5e7),
        "totcnt": rng.integers(5_000, 9_000, n).astype(np.int64),
    })
    tables = {"lineitem": lineitem, "funda": funda, "company": company,
              "dsi": dsi}
    n = size["cold"]
    for j in range(size["n_cold"]):
        tables[f"cold_{j:02d}"] = pa.table({
            "id": np.arange(n, dtype=np.int64),
            "code": rng.choice(["AA", "BB", "CC", "DD"], n),
            "amount": _money(rng, n, 0, 10_000),
            "qty": rng.integers(0, 1_000, n).astype(np.int64),
            "asof": _days(rng, n, "2000-01-01", 8_000),
        })
    return tables


def _type_name(t: pa.DataType) -> str:
    """The engine's canonical type name for an Arrow type."""
    if pa.types.is_int64(t):
        return "int64"
    if pa.types.is_int32(t):
        return "int32"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    return "string"


def jdbc_export_spec(table: str, columns: list[str], cores: int,
                     n_rows: int) -> dict:
    """Keyword arguments of each table's ``Engine.db_to_pq`` call, minus
    the source, schema and freshness stamp. Derby has no ``LIMIT`` and
    no ``information_schema``, so ``source_columns`` is always given."""
    spec: dict = {"source_columns": columns}
    if table == "lineitem":
        spec.update(partition_column="l_id", bounds=(0, n_rows),
                    num_partitions=cores)
    elif table == "funda":
        spec.update(FUNDA_EXPORT)
    elif table == "dsi":
        spec["archive"] = True
    return spec


#: canonical type -> the DuckDB type both sides of a checksum cast to
_DUCK_TYPES = {"int32": "BIGINT", "int64": "BIGINT", "float64": "DOUBLE",
               "date": "DATE", "string": "VARCHAR", "timestamp": "VARCHAR"}


def jdbc_checksum_sql(table: str, schema: pa.Schema, relation: str,
                      exported: bool) -> str:
    """Row count and an order-independent checksum of one hot table, over
    the generated source (``exported=False``: apply the export's filter,
    projection, rename and cast) or over the exported Parquet
    (``exported=True``). Every column is cast to one DuckDB type on both
    sides, so both hash the same values."""
    import re

    types = {f.name: _type_name(f.type) for f in schema}
    names, where = schema.names, None
    source_funda = table == "funda" and not exported
    if source_funda:
        keep = re.compile(FUNDA_EXPORT["keep"])
        names = [c for c in names if keep.search(c)]
        where = FUNDA_EXPORT["where"]
    parts = []
    for c in names:
        typ = types[c]
        if table == "funda":
            out = FUNDA_EXPORT["rename"].get(c, c) if source_funda else c
            typ = FUNDA_EXPORT["col_types"].get(out, typ)
        parts.append(f'CAST("{c}" AS {_DUCK_TYPES.get(typ, typ.upper())})')
    sql = (f"SELECT count(*), CAST(coalesce(sum(hash({', '.join(parts)})), 0) "
           f"AS VARCHAR) FROM {relation}")
    return sql + (f" WHERE {where}" if where else "")


def gen_jdbc_sync(rng, size: dict, out: Path, n_ops: int) -> dict:
    import duckdb

    tables = _jdbc_tables(rng, size)
    for name, tbl in tables.items():
        _write(tbl, out / SOURCE_SCHEMA / f"{name}.parquet")
    con = duckdb.connect()
    expected = {}
    for name in HOT_TABLES:
        rel = f"read_parquet('{out / SOURCE_SCHEMA / name}.parquet/*.parquet')"
        n, h = con.sql(jdbc_checksum_sql(name, tables[name].schema, rel,
                                         exported=False)).fetchone()
        expected[name] = {"rows": int(n), "checksum": h}
    con.close()
    cold = sorted(t for t in tables if t not in HOT_TABLES)
    return {
        "schema": SOURCE_SCHEMA,
        "tables": {name: {"columns": tbl.schema.names,
                          "type_names": [_type_name(f.type) for f in tbl.schema],
                          "rows": tbl.num_rows}
                   for name, tbl in tables.items()},
        "hot": list(HOT_TABLES),
        "cold": cold,
        "base_comment": comment_for(BASE_DAY),
        "op_comments": [comment_for(BASE_DAY + np.timedelta64(k + 1, "D"))
                        for k in range(n_ops)],
        # every op: the hot tables are newer at the source, the cold
        # ones carry the stamp they were exported with
        "expected_decisions": {**{t: "updated" for t in HOT_TABLES},
                               **{t: "skipped" for t in cold}},
        "expected_exports": expected,
        "source_arrow_bytes": int(sum(t.nbytes for t in tables.values())),
    }


# -- corpus_ingest -----------------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"]
BATCH_ID_BASE = 10_000_000


def _doc(rng, vocab, n_words: int) -> list[str]:
    words = list(vocab[rng.integers(0, len(vocab), n_words)])
    for pos in rng.choice(n_words, size=max(3, n_words // 10), replace=False):
        words[pos] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
    return words


def gen_corpus_ingest(rng, size: dict, out: Path, n_ops: int) -> dict:
    vocab = _words(rng, 30_000, 3, 9)
    n_corpus = size["corpus"]
    lens = np.where(rng.random(n_corpus) < 0.05,
                    rng.integers(30, 46, n_corpus), rng.integers(80, 161, n_corpus))
    corpus_words = [_doc(rng, vocab, int(k)) for k in lens]
    corpus_text = [" ".join(w) for w in corpus_words]
    _write(pa.table({"doc_id": np.arange(n_corpus, dtype=np.int64),
                     "text": corpus_text}), out / "corpus.parquet")
    long_docs = np.flatnonzero(lens >= 80)
    arrow_bytes = pa.table({"t": corpus_text}).nbytes + 8 * n_corpus

    batches = []
    n_batch = size["batch"]
    n_near = n_batch // 10
    n_exact = n_batch // 50
    for k in range(n_ops):
        ids = BATCH_ID_BASE + k * 100_000 + np.arange(n_batch, dtype=np.int64)
        srcs = rng.choice(long_docs, size=n_near + n_exact, replace=False)
        texts, near, exact, survivors = [], [], [], []
        for j in range(n_batch):
            if j < n_near:  # one-token edit of a long corpus doc: J >= 0.9
                words = list(corpus_words[srcs[j]])
                pos = int(rng.integers(0, len(words)))
                new = vocab[rng.integers(0, len(vocab))]
                while new == words[pos]:
                    new = vocab[rng.integers(0, len(vocab))]
                words[pos] = new
                texts.append(" ".join(words))
                near.append([int(ids[j]), int(srcs[j])])
            elif j < n_near + n_exact:  # exact copy up to case and spacing
                words = corpus_words[srcs[j]]
                texts.append("  ".join(words).capitalize() + " ")
                near.append([int(ids[j]), int(srcs[j])])
                exact.append(int(ids[j]))
            else:
                kind = rng.random()
                if kind < 0.08:  # too short for the word-count rule
                    texts.append(" ".join(_doc(rng, vocab, int(rng.integers(20, 40)))))
                elif kind < 0.12:  # symbol spam fails the symbol rule
                    words = _doc(rng, vocab, int(rng.integers(80, 120)))
                    for pos in rng.choice(len(words), size=len(words) // 5, replace=False):
                        words[pos] = "#"
                    texts.append(" ".join(words))
                elif kind < 0.15:  # key mash: no stopwords, entropy < 1 bit
                    texts.append(" ".join(rng.choice(["aaa", "aaaa", "aaaaa"],
                                                     int(rng.integers(80, 120)))))
                else:
                    texts.append(" ".join(_doc(rng, vocab, int(rng.integers(80, 161)))))
                    survivors.append(int(ids[j]))
        order = rng.permutation(n_batch)
        tbl = pa.table({"doc_id": ids[order],
                        "text": [texts[i] for i in order]})
        _write(tbl, out / f"batch_{k:03d}.parquet")
        arrow_bytes += tbl.nbytes
        batches.append({"near_pairs": near, "exact_ids": exact,
                        "survivor_ids": survivors})
    return {"n_corpus": n_corpus, "batch_docs": n_batch, "batches": batches,
            "source_arrow_bytes": int(arrow_bytes)}


def generate(workload: str, seed: int, out: Path, n_ops: int,
             size: str = "full", cores: int = 4) -> dict:
    """Write the inputs of ``workload`` for ``n_ops`` ops under ``out``
    and return (and store as ``facts.json``) the planted facts."""
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    sz = SIZES[size][workload]
    if workload == "jdbc_sync":
        facts = gen_jdbc_sync(rng, sz, out, n_ops)
        facts["export_specs"] = {
            t: jdbc_export_spec(t, m["columns"], cores, m["rows"])
            for t, m in facts["tables"].items()}
    elif workload == "corpus_ingest":
        facts = gen_corpus_ingest(rng, sz, out, n_ops)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    facts.update(workload=workload, seed=seed, size=size, n_ops=n_ops)
    (out / "facts.json").write_text(json.dumps(facts))
    return facts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ops", type=int, default=4)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    args = ap.parse_args()
    facts = generate(args.workload, args.seed, Path(args.out), args.ops,
                     args.size, len(os.sched_getaffinity(0)))
    print(json.dumps({k: v for k, v in facts.items()
                      if k not in ("batches", "export_specs", "tables")}))


if __name__ == "__main__":
    main()
