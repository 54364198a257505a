"""Workload definitions: the op list of each workload and the seeded
plan (op order, table_rw statement stream) a run executes.

A run is a number of passes over the workload's fixed op set; the seed
orders the ops inside each mr_kernel and catalog_read pass (and draws
the keys and values of table_rw's statement stream).  The pass count is
derived from `--seconds` and a fixed nominal pass length, never from
timing, so every run of a workload times the same ops.
"""
import random

# The ops run on each corpus, with the kernel entry point each runs
# through (startjob drives MapReduce.startJob + JobHandle directly).
MR_ENTRY = {
    "mr_wordcount": "run",
    "mr_charcount": "run",
    "mr_count_of_counts": "run",
    "mr_combined_wordcount": "run_combined",
    "mr_secondary_sort": "run_sorted",
    "mr_seq_pattern": "run_sorted",
    "startjob": "start_job",
}
# The ops of MR_ENTRY that read the corpus's events (the rest read its
# documents).
MR_EVENT_OPS = ("mr_secondary_sort", "mr_seq_pattern")
REGIMES = ("hot", "unique")

# Catalogue reads: publish no commit, start no stream.
CATALOG_READ = ["tpch_q6", "tpch_q13", "tpch_q3", "rel_agg_pushdown", "rel_month_agg",
                "rel_semi_join", "rel_window_topk", "txt_tokens", "txt_termfreq",
                "txt_char_bigrams", "txt_entropy", "dedup_clusters", "dedup_exact",
                "emb_knn", "emb_centroid", "emb_norms"]
# Runs last in every catalog_read pass, after the seeded order of the
# rest: the longest op by far, it takes 6-10 s depending on how many
# ops warmed the JIT before it, which made the pass's tail follow the
# seed.
CATALOG_LAST = "dedup_clusters"
# Run once in catalog_read's set-up: the first catalogue op of a JVM
# pays 0.3-0.5 s of one-time work that the generic warmup leaves, which
# would otherwise land on whichever op the seed puts first.
CATALOG_WARM = ["tpch_q1"]

# Streaming drain of a traced table_rw run, in a pass of its own after
# the timed and overhead passes: the change-feed pipeline over
# versioned tables (micro-batch planning, state commits, checkpoint
# IO).  It feeds the stream layer only; no end-to-end metric times it.
STREAM_DRAIN = ["ev_stream_pipeline"]

# Nominal seconds of one pass on a 4-core host; passes = seconds // this.
NOMINAL_PASS_S = {"mr_kernel": 10, "catalog_read": 10, "table_rw": 10}

WORKLOADS = tuple(NOMINAL_PASS_S)

# Untimed passes that run first, part of set-up.  table_rw's runs
# WARM_ORDER from its statement stream on the table itself: a first
# pass of PASS_ORDER took 14-17 s where the next took 10.4-11.6 s on a
# 4-core host (code generation and JIT warm-up of the read, write and
# maintenance paths, with the cold compaction the run's slowest op), so
# a timed first pass made every end-to-end metric swing between runs.
# A whole PASS_ORDER as the warm pass cost 6 s more per run and gave
# timed passes no faster or steadier than WARM_ORDER.
WARM_PASSES = {"table_rw": 1}


def passes(workload, seconds):
    return max(1, int(seconds) // NOMINAL_PASS_S[workload])


def warm_passes(workload):
    return WARM_PASSES.get(workload, 0)


def timed_passes(workload, seconds):
    """The pass numbers whose ops give the end-to-end metrics."""
    w = warm_passes(workload)
    return range(w, w + passes(workload, seconds))


# ---------------------------------------------------------------- table_rw

TABLE_COLS = ("lk", "l_orderkey", "l_partkey", "l_quantity",
              "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate")
N_ORDERS = 20_000             # the table holds line 1 of the first 20,000 orders
LINES = 1
# Statement kinds of one pass: 24 reads (point lookups the majority, so
# that the pass's median op is one) and 6 writes.  The order is fixed,
# one write after every four reads: how fast a read runs depends on the
# writes and compactions before it, and a seeded order would turn that
# into run-to-run spread.  The seed draws keys and values.
_P = "point_select"
PASS_ORDER = [_P, _P, "range_select", _P, "insert",
              _P, _P, "agg_select", _P, "delete",
              _P, _P, _P, _P, "update",
              _P, "full_select", _P, _P, "insert",
              _P, _P, "range_select", _P, "merge",
              _P, _P, _P, _P, "delete"]
MAINTAIN_EVERY = 3             # writes between compact + expire cycles
# table_rw's warm pass: every statement kind but INSERT, and exactly
# MAINTAIN_EVERY writes, so that it ends with one compact + expire cycle
# and the timed passes start their write count at 0.
WARM_ORDER = [_P, "range_select", "agg_select", "full_select", "delete",
              _P, "merge", "update"]


def table_setup_sql(lineitem_path):
    """Set-up of table_rw: line 1 of the first N_ORDERS lineitem orders;
    the key `lk` carries the table's stats (compaction with a stats
    column) and the ship year partitions it."""
    return [
        "CREATE TABLE graftcat.li (lk BIGINT, l_orderkey BIGINT, "
        "l_partkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_returnflag STRING, l_shipdate TIMESTAMP_NTZ) "
        "PARTITIONED BY (years(l_shipdate))",
        "INSERT INTO graftcat.li SELECT l_orderkey * 8 + l_linenumber, "
        "l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, "
        f"l_returnflag, l_shipdate FROM parquet.`{lineitem_path}` "
        f"WHERE l_linenumber <= {LINES} AND l_orderkey < {N_ORDERS}",
        "CALL graftcat.compact('li', 'lk', 8)",
    ]


def table_setup_duck(lineitem_path):
    return ("CREATE TABLE li AS SELECT l_orderkey * 8 + l_linenumber AS lk, "
            "l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, "
            f"l_returnflag, l_shipdate FROM read_parquet('{lineitem_path}') "
            f"WHERE l_linenumber <= {LINES} AND l_orderkey < {N_ORDERS}")


class Statement:
    """One table_rw statement in both dialects.  `duck` is a list: a
    MERGE replays in DuckDB as delete-then-insert."""

    def __init__(self, kind, spark, duck):
        self.kind, self.spark, self.duck = kind, spark, duck


def _ts(days_since_1995):
    y, rem = divmod(days_since_1995, 365)
    m, d = divmod(rem, 30)
    return f"{1995 + y:04d}-{min(m, 11) + 1:02d}-{min(d, 27) + 1:02d} 00:00:00"


class TableStream:
    """Seeded statement stream: each pass runs PASS_ORDER, with a
    compact + expire cycle after every MAINTAIN_EVERY writes.  Keys are Zipf-skewed over the original key
    space and biased towards recently inserted keys; MERGE upserts
    recently written keys."""

    def __init__(self, seed):
        self.rng = random.Random(f"table_rw:{seed}")
        self.next_key = (N_ORDERS + 1) * 8
        self.recent = []
        self.writes = 0

    def _key(self):
        r = self.rng
        if self.recent and r.random() < 0.3:
            return self.recent[-1 - min(int(r.expovariate(0.2)), len(self.recent) - 1)]
        order = int(N_ORDERS ** r.random()) - 1       # Zipf s=1 over orders
        return order * 8 + r.randint(1, LINES)

    def _row(self, key):
        r = self.rng
        return (key, key // 8, r.randrange(20_000), float(r.randint(1, 50)),
                round(r.uniform(900, 105_000), 2), r.randint(0, 10) / 100.0,
                r.choice("ANR"), _ts(r.randrange(7 * 365)))

    @staticmethod
    def _values(rows, ntz):
        lit = "TIMESTAMP_NTZ" if ntz else "TIMESTAMP"
        return ", ".join(
            f"({k}, {o}, {p}, {q!r}, {e!r}, {d!r}, '{f}', {lit} '{t}')"
            for k, o, p, q, e, d, f, t in rows)

    def _fresh_rows(self, n):
        rows = []
        for _ in range(n):
            rows.append(self._row(self.next_key))
            self.recent.append(self.next_key)
            self.next_key += 1
        return rows

    def next(self, kind):
        r = self.rng
        cols = ", ".join(TABLE_COLS)
        if kind == "point_select":
            k = self._key()
            q = f"SELECT {cols} FROM {{t}} WHERE lk = {k}"
            return Statement(kind, q.format(t="graftcat.li"), [q.format(t="li")])
        if kind == "range_select":
            k = self._key()
            q = f"SELECT {cols} FROM {{t}} WHERE lk BETWEEN {k} AND {k + 400}"
            return Statement(kind, q.format(t="graftcat.li"), [q.format(t="li")])
        if kind == "agg_select":
            y = r.randrange(1995, 2002)
            q = ("SELECT l_returnflag, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS q "
                 "FROM {t} WHERE l_shipdate >= {lit} '" + f"{y}-01-01 00:00:00" +
                 "' AND l_shipdate < {lit} '" + f"{y + 1}-01-01 00:00:00" +
                 "' GROUP BY l_returnflag")
            return Statement(kind, q.format(t="graftcat.li", lit="TIMESTAMP_NTZ"),
                             [q.format(t="li", lit="TIMESTAMP")])
        if kind == "full_select":
            q = ("SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS q, "
                 "max(lk) AS k FROM {t}")
            return Statement("agg_select", q.format(t="graftcat.li"), [q.format(t="li")])
        self.writes += 1
        if kind == "insert":
            rows = self._fresh_rows(20)
            return Statement(kind, f"INSERT INTO graftcat.li VALUES {self._values(rows, True)}",
                             [f"INSERT INTO li VALUES {self._values(rows, False)}"])
        if kind == "delete":
            keys = sorted({self._key() for _ in range(10)})
            ks = ", ".join(map(str, keys))
            return Statement(kind, f"DELETE FROM graftcat.li WHERE lk IN ({ks})",
                             [f"DELETE FROM li WHERE lk IN ({ks})"])
        if kind == "update":
            k = self._key()
            q = f"UPDATE {{t}} SET l_quantity = l_quantity + 1 WHERE lk BETWEEN {k} AND {k + 40}"
            return Statement(kind, q.format(t="graftcat.li"), [q.format(t="li")])
        # merge: upsert of recently written and fresh keys, full rows
        keys = sorted({r.choice(self.recent) if self.recent else self._key()
                       for _ in range(8)})
        rows = [self._row(k) for k in keys] + self._fresh_rows(4)
        names = ", ".join(TABLE_COLS)
        spark = (f"MERGE INTO graftcat.li t USING (SELECT * FROM VALUES "
                 f"{self._values(rows, True)} AS u({names})) u ON t.lk = u.lk "
                 "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        ks = ", ".join(str(row[0]) for row in rows)
        return Statement(kind, spark, [f"DELETE FROM li WHERE lk IN ({ks})",
                                       f"INSERT INTO li VALUES {self._values(rows, False)}"])

    def maintenance_due(self):
        if self.writes >= MAINTAIN_EVERY:
            self.writes = 0
            return True
        return False


# ---------------------------------------------------------------- plans

# Set-up reads the schemas of the workload's input tables (the engine
# infers each once per process).  mr_kernel's set-up then runs each of
# its ops once on the run's `unique` corpus, the one that sends the most
# records through every stage: through the first 6-8 kernel ops of a JVM
# each op still ran 20-80% slower than later on, whichever op the seed
# put there, and a warm-up on a smaller corpus did not remove that.
BASE_TABLES = ("region,nation,customer,supplier,part,orders,lineitem,events,"
               "documents,embeddings")


def _mr_ops(data, regimes=REGIMES):
    return [dict(kind="startjob" if n == "startjob" else "query", label=n, regime=g,
                 arg=data[g]) for g in regimes for n in MR_ENTRY]


def warm_ops(workload, data):
    if workload == "mr_kernel":
        return ([dict(kind="schema", label="documents,events", arg=data[g]) for g in REGIMES] +
                _mr_ops(data, ["unique"]))
    if workload == "table_rw":
        # Its timed ops read only graftcat.li (set-up reads lineitem by
        # path); a traced run's drain reads the events.
        return [dict(kind="schema", label="events", arg=data["base"])]
    return ([dict(kind="schema", label=BASE_TABLES, arg=data["base"])] +
            [dict(kind="query", label=n, arg=data["base"]) for n in CATALOG_WARM])


def pass_flags(workload, seconds, trace):
    """Whether each pass of a run is traced, warm passes first.  A
    traced run times the untraced run's passes with tracing on (the
    per-layer numbers), then one untraced and one traced pass more: the
    ratio of those two passes is the tracing overhead.  table_rw adds a
    traced pass that runs STREAM_DRAIN."""
    n = passes(workload, seconds)
    flags = [trace] * n
    if trace:
        flags += [False, True] + ([True] if workload == "table_rw" else [])
    return [False] * warm_passes(workload) + flags


def plan_ops(workload, seed, seconds, trace, data):
    """The ops of one run: a list of dicts with pass, kind, label, arg
    and (for table_rw) the DuckDB replay of each statement.

    `data` maps "base" and each regime to its input directory."""
    rng = random.Random(f"{workload}:{seed}")
    n_passes = len(pass_flags(workload, seconds, trace))
    ops = []
    stream = TableStream(seed) if workload == "table_rw" else None
    for p in range(n_passes):
        if workload == "table_rw" and trace and p == n_passes - 1:
            batch = [dict(kind="query", label=n, arg=data["base"]) for n in STREAM_DRAIN]
        elif workload == "mr_kernel":
            batch = _mr_ops(data)
        elif workload == "catalog_read":
            batch = [dict(kind="query", label=n, arg=data["base"]) for n in CATALOG_READ]
        else:
            batch = []
            for kind in WARM_ORDER if p < warm_passes(workload) else PASS_ORDER:
                st = stream.next(kind)
                batch.append(dict(kind="sql", label=st.kind, arg=st.spark, duck=st.duck))
                if stream.maintenance_due():
                    batch.append(dict(kind="sql", label="compact",
                                      arg="CALL graftcat.compact('li', 'lk', 8)", duck=[]))
                    batch.append(dict(kind="expire", label="expire", arg="li", duck=[]))
        if workload != "table_rw":
            rng.shuffle(batch)
            batch.sort(key=lambda o: o["label"] == CATALOG_LAST)
        for op in batch:
            op["pass"] = p
            ops.append(op)
    for i, op in enumerate(ops):
        op["id"] = i
    return ops, n_passes
