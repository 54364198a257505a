"""Correctness checks, run after the timed phase.

- Catalogue and MapReduce ops with an oracle: the op's parquet output
  against the oracle SQL run by DuckDB over the same input directory,
  through `tools/check_oracle.py`'s `compare` (rows sorted first; big
  results compare schema and types there and rows by set difference).
- `startjob` ops: the collected pairs against the word-count oracle.
- table_rw: every SELECT and the final table against a DuckDB replay of
  the same statement stream.
- Ops without an oracle count as correct when they complete: their
  in-path gates throw on a wrong result.
"""
import datetime
import hashlib
import json
import os
import sys

import duckdb

from workloads import TABLE_COLS

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BIG = 20_000


def _connect(tmp_dir):
    return duckdb.connect(config={"threads": 2, "temp_directory": tmp_dir})


def _compare_fn(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from check_oracle import compare
    finally:
        sys.path.pop(0)
    return compare


def _key(row):
    def k(v):
        if v is None:
            return (0, 0)
        if isinstance(v, bool):
            return (1, int(v))
        if isinstance(v, (int, float)):
            return (1, v)
        if isinstance(v, str):
            return (2, v)
        return (3, repr(v))
    return tuple(k(v) for v in row)


def dedup_clusters_oracle(texts):
    """The dedup_clusters oracle SQL, re-stated over Python sets: its
    all-pairs self-join is quadratic in DuckDB (minutes at 5,000 docs).
    Same semantics: distinct word 3-gram shingles of documents with at
    least three tokens; a pair when 2*|A&B| >= |A|+|B|-|A&B|; clusters
    are the connected components of the pairs, labelled by their
    smallest doc id.  Candidate pairs come from an inverted index.

    `texts`: [(doc_id, text)].  Returns sorted [(cluster_id, n_docs)]."""
    shingles = {}
    for doc_id, text in texts:
        t = [w for w in (text or "").split(" ") if w != ""]
        if len(t) >= 3:
            shingles[doc_id] = {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
    index = {}
    for d, sh in shingles.items():
        for g in sh:
            index.setdefault(g, []).append(d)
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for docs in index.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                pair = (a, b) if a < b else (b, a)
                if pair in seen:
                    continue
                seen.add(pair)
                sa, sb = shingles[a], shingles[b]
                inter = len(sa & sb)
                if 2 * inter >= len(sa) + len(sb) - inter:
                    for x in pair:
                        parent.setdefault(x, x)
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    sizes = {}
    for x in parent:
        r = find(x)
        sizes[r] = sizes.get(r, 0) + 1
    return sorted(sizes.items())


def _ts_text(row):
    """DuckDB's timestamps as the benchmark's JVM client prints Spark's."""
    return tuple(v.strftime("%Y-%m-%d %H:%M:%S.%f") if isinstance(v, datetime.datetime)
                 else v for v in row)


def _by_name(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows]


class Checker:
    """Oracle results over the base tables, whose directory name carries
    the generator's hash, are kept in `cache_dir` across runs; corpora
    are rewritten per seed and never cached."""

    def __init__(self, root, tmp_dir, cache_dir=None):
        self.cache_dir = cache_dir
        self.compare = _compare_fn(root)
        self.con = _connect(tmp_dir)
        self._oracle_cache = {}
        self._views = None

    def _use_dir(self, data_dir):
        if self._views == data_dir:
            return
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"DROP VIEW IF EXISTS {t}")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self._views = data_dir

    def _oracle(self, name, sql, data_dir):
        key = (name, data_dir)
        if key not in self._oracle_cache:
            self._use_dir(data_dir)
            table = f"o_{len(self._oracle_cache)}"
            cached = None
            if self.cache_dir and os.path.basename(data_dir).startswith("base-"):
                h = hashlib.sha256(f"{name}\n{sql}\n{data_dir}".encode()).hexdigest()[:24]
                cached = os.path.join(self.cache_dir, f"{h}.parquet")
            if cached and os.path.exists(cached):
                self.con.execute(f"CREATE TABLE {table} AS SELECT * FROM read_parquet('{cached}')")
            elif name == "dedup_clusters":
                rows = dedup_clusters_oracle(
                    self.con.sql("SELECT doc_id, text FROM documents").fetchall())
                self.con.execute(f"CREATE TABLE {table} (cluster_id BIGINT, n_docs BIGINT)")
                if rows:
                    self.con.executemany(f"INSERT INTO {table} VALUES (?, ?)", rows)
            else:
                self.con.execute(f"CREATE TABLE {table} AS {sql}")
            if cached and not os.path.exists(cached):
                os.makedirs(self.cache_dir, exist_ok=True)
                self.con.execute(f"COPY {table} TO '{cached}.tmp' (FORMAT parquet)")
                os.replace(cached + ".tmp", cached)
            self._oracle_cache[key] = table
        return self._oracle_cache[key]

    def _relation_vs(self, name, spark_sql, oracle_table):
        """Spark output (a DuckDB query over it) against an oracle table."""
        srel = self.con.sql(spark_sql)
        orel = self.con.table(oracle_table)
        scols = [d[0] for d in srel.description]
        ocols = [d[0] for d in orel.description]
        n_s = self.con.sql(f"SELECT count(*) FROM ({spark_sql})").fetchone()[0]
        n_o = self.con.sql(f"SELECT count(*) FROM {oracle_table}").fetchone()[0]
        if max(n_s, n_o) <= BIG:
            return self.compare(
                name, sorted(_by_name(scols, srel.fetchall()), key=_key),
                sorted(_by_name(ocols, orel.fetchall()), key=_key),
                sorted(scols), sorted(ocols),
                [t for _, t in sorted(zip(scols, srel.types))],
                [t for _, t in sorted(zip(ocols, orel.types))])
        ok, msg = self.compare(name, [], [], scols, ocols, srel.types, orel.types)
        if not ok:
            return ok, msg
        if n_s != n_o:
            return False, f"row count: spark={n_s} oracle={n_o}"
        cols = ", ".join(f'"{c}"' for c in sorted(scols))
        diff = self.con.sql(
            f"SELECT count(*) FROM ((SELECT {cols} FROM ({spark_sql}) EXCEPT ALL "
            f"SELECT {cols} FROM {oracle_table}) UNION ALL (SELECT {cols} FROM "
            f"{oracle_table} EXCEPT ALL SELECT {cols} FROM ({spark_sql})))").fetchone()[0]
        return (diff == 0), ("ok" if diff == 0 else f"{diff} rows differ")

    def query_op(self, op, oracle_sql):
        """A catalogue op's parquet output against its oracle."""
        if oracle_sql is None:
            return True, "no oracle; completed"
        table = self._oracle(op["label"], oracle_sql, op["arg"])
        return self._relation_vs(
            op["label"], f"SELECT * FROM read_parquet('{op['out']}/*.parquet')", table)

    def startjob_op(self, op, oracle_sql):
        table = self._oracle("mr_wordcount", oracle_sql, op["arg"])
        return self._relation_vs(
            "startjob",
            f"SELECT * FROM read_csv('{op['out']}', delim='\t', header=false, quote='', "
            "escape='', columns={'word': 'VARCHAR', 'cnt': 'BIGINT'})", table)


def check_table_rw(root, ops, outputs_dir, setup_duck, timed):
    """Replay the statements that succeeded in Spark, in order, in
    DuckDB; compare each SELECT and the final table.  Returns
    ({op id: (ok, message)}, replay record); the record's
    `changed_rows` counts the rows changed by the passes in `timed`."""
    compare = _compare_fn(root)
    con = _connect(os.path.join(outputs_dir, "duck_tmp"))
    con.execute(setup_duck)
    selects = {}
    sel_path = os.path.join(outputs_dir, "selects.jsonl")
    if os.path.exists(sel_path):
        with open(sel_path) as fh:
            for line in fh:
                rec = json.loads(line)
                selects[rec["op"]] = [tuple(r) for r in rec["rows"]]
    results = {}
    changed_rows = 0
    for op in ops:
        if not op["ok"] or not op.get("duck"):
            continue
        if op["label"].endswith("_select"):
            rel = con.sql(op["duck"][0])
            ocols = [d[0] for d in rel.description]
            orows = sorted(_by_name(ocols, map(_ts_text, rel.fetchall())), key=_key)
            srows = sorted(_by_name(ocols, selects.get(op["id"], [])), key=_key)
            results[op["id"]] = compare(op["label"], srows, orows,
                                        sorted(ocols), sorted(ocols))
        else:
            for stmt in op["duck"]:
                r = con.execute(stmt).fetchall()
                if r and isinstance(r[0][0], int) and op["pass"] in timed:
                    changed_rows += r[0][0]
    final = os.path.join(outputs_dir, "final_table")
    # Every column, the partition column l_shipdate included: both
    # sides read it as a timestamp.
    cols = ", ".join(TABLE_COLS)
    diff = con.sql(
        f"SELECT count(*) FROM ((SELECT {cols} FROM read_parquet('{final}/*.parquet') "
        f"EXCEPT ALL SELECT {cols} FROM li) UNION ALL (SELECT {cols} FROM li EXCEPT ALL "
        f"SELECT {cols} FROM read_parquet('{final}/*.parquet')))").fetchone()[0]
    live = con.sql("SELECT count(*) FROM li").fetchone()[0]
    return results, {"final_table_ok": diff == 0, "final_table_diff_rows": diff,
                     "live_rows": live, "changed_rows": changed_rows}
