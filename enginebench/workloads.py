"""Op scripts for the benchmark's workloads and their expected answers.

Everything here runs before the engine starts and outside any timed
region. The workload seed picks anchors (Zipf-skewed, so some repeat),
write batches and operation order; the expected answers come from DuckDB
over the same parquet (the graph through the repo's own
``GRAPH_EDGES_SQL`` text and the DuckDB twins in ``oracle.py``) and from
pure-Python models: a replay of the write stream for ``lookup_write`` and
union-find / power-iteration / chain arithmetic for the graph analytics.

A script is a list of ops; each op is a JSON-ready dict with ``kind``,
``args``, ``cls`` (the latency class) and ``expect`` (a canonical answer
the worker compares with what the engine returned).
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

import duckdb
import numpy as np

B = 10**12  # node-id range width per label class (sources/tpch_graph.py)
NATION, CUSTOMER, PART = 1 * B, 3 * B, 4 * B

WORKLOADS = ("lookup_write", "batch")
# the op class whose latency is each workload's op_geomean_ms
PRIMARY = {"lookup_write": "point", "batch": "batch"}

# lookup_write: a read phase on the base graph, then one write of each kind,
# in this order, against the newest graph version -- never reset between
# writes. Each write is followed by a read-back of the touched node (time to
# visible); after the writes numbered in READ_AFTER_WRITES one more read runs
# against the same version. The run budget (every run starts a JVM) does not
# leave room for a read after every write.
WRITE_KINDS = ("append", "overwrite", "delete", "update")
READ_AFTER_WRITES = (2, 4)

# batch: the analytics ops over the NEXT_ORDER chains, then the corpus ops
# (the pattern compiler is measured on lookup_write)
GRAPH_OPS = ("connected_components", "pagerank", "transitive_closure")
CORPUS_OPS = ("exact_dedup", "minhash_lsh_candidates", "gopher_quality_filter",
              "term_stats", "wordpiece_encode", "exact_substring_dedup")

WORDPIECE_MAX_LEN = 4
PAGERANK_ITERS = 3


def _edges_db(data_dir: str):
    """DuckDB connection holding the graph's ``edges`` table, built by the
    same SQL text the engine runs."""
    from judy_graph_db_spark.sources.tpch_graph import GRAPH_EDGES_SQL

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{data_dir}/duckdb_tmp'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    con.execute(f"CREATE TABLE edges AS {GRAPH_EDGES_SQL}")
    return con


def _zipf_picker(rng: np.random.Generator, candidates, a: float = 1.1):
    """Draws from ``candidates`` with Zipf weights over a seeded ranking."""
    cands = list(candidates)
    rng.shuffle(cands)
    w = 1.0 / np.arange(1, len(cands) + 1) ** a
    w /= w.sum()
    return lambda: int(cands[int(rng.choice(len(cands), p=w))])


# ----------------------------------------------------------- lookup_write


class GraphModel:
    """Adjacency rows ``(label, edge_seq, is_back, dst)`` per node, kept in
    step with the engine's mutation semantics (operators/mutation.py)."""

    def __init__(self, con, nodes):
        self.rows = defaultdict(list)
        ids = sorted(set(nodes))
        con.execute("CREATE OR REPLACE TEMP TABLE want(id BIGINT)")
        con.executemany("INSERT INTO want VALUES (?)", [(i,) for i in ids])
        for src, label, seq, back, dst in con.execute(
                "SELECT src, label, edge_seq, is_back, dst FROM edges "
                "JOIN want ON src = id").fetchall():
            self.rows[src].append((label, int(seq), bool(back), int(dst)))

    def nodes_by_attr(self, node, label, back):
        return sorted([d, s] for l, s, b, d in self.rows[node] if l == label and b == back)

    def node_edge(self, node, label, seq):
        return sorted([d] for l, s, b, d in self.rows[node] if l == label and s == seq)

    def edge_count(self, node):
        c = defaultdict(int)
        for l, _, _, _ in self.rows[node]:
            c[l] += 1
        return sorted([l, n] for l, n in c.items())

    def children(self, node):
        return sorted([l, s, b, d] for l, s, b, d in self.rows[node])

    def append(self, src, dsts, label):
        base = max([s for l, s, b, _ in self.rows[src] if l == label and not b], default=0)
        for k, d in enumerate(dsts, 1):
            self.rows[src].append((label, base + k, False, d))

    def overwrite(self, src, dst, label):
        self.rows[src] = [r for r in self.rows[src]
                          if not (r[0] == label and r[1] == 1 and not r[2])]
        self.rows[src].append((label, 1, False, dst))

    def delete(self, src, dst):
        self.rows[src] = [r for r in self.rows[src] if not (r[3] == dst and not r[2])]
        self.rows[dst] = [r for r in self.rows[dst] if not (r[3] == src and r[2])]

    def update(self, src, label, seq, new_dst):
        self.rows[src] = [(l, s, b, new_dst if (l == label and s == seq) else d)
                          for l, s, b, d in self.rows[src]]


# The base phase's point reads: a fixed mix of (anchor class, read) pairs,
# so every seed runs the same amount of work; the seed draws the anchors
# and the order. Nations are the dense hub (every customer and supplier of
# the nation points at it).
BASE_MIX = (
    ("customer", "nodes_by_attr"), ("customer", "node_edge"), ("customer", "edge_count"),
    ("customer", "children"), ("part", "nodes_by_attr"), ("part", "edge_count"),
    ("nation", "nodes_by_attr"), ("nation", "edge_count"),
)
# the read after a write (beside the read-back of the touched node)
WRITE_PHASE_READ = ("customer", "nodes_by_attr")


def _point_op(model, rng, node, kind):
    """One adjacency read of ``kind`` on ``node``."""
    label, back = {CUSTOMER: ("PLACED", False), PART: ("CONTAINS", True),
                   NATION: ("FROM_NATION", True)}[node // B * B]
    if kind == "nodes_by_attr":
        return {"kind": kind, "args": [node, label, back],
                "expect": model.nodes_by_attr(node, label, back)}
    if kind == "node_edge":
        seq = int(rng.integers(1, 4))
        return {"kind": kind, "args": [node, label, seq],
                "expect": model.node_edge(node, label, seq)}
    if kind == "edge_count":
        return {"kind": kind, "args": [node], "expect": model.edge_count(node)}
    return {"kind": kind, "args": [node], "expect": model.children(node)}


def _pattern_ops(con, customers, orders):
    def two_hop(c):
        return int(con.execute(
            "SELECT count(*) FROM edges a JOIN edges b ON a.dst = b.src "
            "WHERE a.src = ? AND a.label = 'PLACED' AND NOT a.is_back "
            "AND b.label = 'CONTAINS' AND NOT b.is_back", [c]).fetchone()[0])

    c, o, c2 = customers(), orders(), customers()
    # NEXT_ORDER is a per-customer chain: paths of 1..3 hops = later orders, capped
    later = con.execute(
        "WITH RECURSIVE walk(n, d) AS (SELECT ?::BIGINT, 0 UNION ALL "
        "SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.n "
        "WHERE e.label = 'NEXT_ORDER' AND NOT e.is_back AND w.d < 3) "
        "SELECT count(*) - 1 FROM walk", [o]).fetchone()[0]
    return [
        {"kind": "pattern_2hop_from", "args": [c], "expect": two_hop(c), "cls": "pattern"},
        {"kind": "several_next_order", "args": [o], "expect": int(later), "cls": "pattern"},
        {"kind": "motif_2hop_from", "args": [c2], "expect": two_hop(c2), "cls": "pattern"},
    ]


def lookup_write_script(data_dir: str, seed: int, base_points: int = len(BASE_MIX)) -> list:
    con = _edges_db(data_dir)
    rng = np.random.default_rng(seed)
    ids = lambda q: [r[0] for r in con.execute(q).fetchall()]  # noqa: E731
    pickers = {
        "customer": _zipf_picker(rng, ids(
            "SELECT DISTINCT src FROM edges WHERE label = 'PLACED' AND NOT is_back ORDER BY 1")),
        "part": _zipf_picker(rng, ids(
            "SELECT DISTINCT src FROM edges WHERE label = 'CONTAINS' AND is_back ORDER BY 1")),
        "nation": _zipf_picker(rng, range(NATION, NATION + 25)),
    }
    customers = pickers["customer"]
    orders = _zipf_picker(rng, ids(
        "SELECT DISTINCT src FROM edges WHERE label = 'NEXT_ORDER' AND NOT is_back ORDER BY 1"))

    # draw every node the script touches first, so one model fetch covers them
    mix = [BASE_MIX[i % len(BASE_MIX)] for i in range(base_points)]
    base_reads = [(pickers[cls](), kind) for cls, kind in mix]
    writers = [customers() for _ in WRITE_KINDS]
    cls, kind = WRITE_PHASE_READ
    later_reads = [(pickers[cls](), kind) for _ in READ_AFTER_WRITES]
    model = GraphModel(con, [n for n, _ in base_reads + later_reads] + writers
                       + list(range(NATION, NATION + 25)))
    n_parts = con.execute("SELECT count(*) FROM part").fetchone()[0]
    new_part = lambda: PART + int(rng.integers(1, n_parts + 1))  # noqa: E731

    base = [dict(_point_op(model, rng, n, kind), cls="point") for n, kind in base_reads]
    base += _pattern_ops(con, customers, orders)
    base = [base[i] for i in rng.permutation(len(base))]
    for op in base:
        op["phase"] = "base"

    script = list(base)
    reads = iter(later_reads)
    for w, (kind, c) in enumerate(zip(WRITE_KINDS, writers), 1):
        if kind == "append":
            dsts = [new_part(), new_part()]
            args = [[c, d, "PLACED"] for d in dsts]
            model.append(c, dsts, "PLACED")
        elif kind == "overwrite":
            d = new_part()
            args = [[c, d, "PLACED"]]
            model.overwrite(c, d, "PLACED")
        elif kind == "delete":
            fwd = sorted({d for _, _, b, d in model.rows[c] if not b})
            d = fwd[int(rng.integers(len(fwd)))]
            args = [[c, d]]
            model.delete(c, d)
        else:
            seqs = sorted({s for l, s, b, _ in model.rows[c] if l == "PLACED" and not b})
            seq = seqs[int(rng.integers(len(seqs)))] if seqs else 1
            d = new_part()
            args = [[c, "PLACED", seq, d]]
            model.update(c, "PLACED", seq, d)
        script.append({"kind": "write", "cls": "write", "phase": "write", "write_no": w,
                       "args": {"kind": kind, "rows": args, "node": c},
                       "expect": model.children(c)})
        if w in READ_AFTER_WRITES:
            op = _point_op(model, rng, *next(reads))
            script.append(dict(op, cls="point", phase="write", write_no=w))
    con.close()
    return script


# ------------------------------------------------------------------ batch


def _chains(con):
    return con.execute(
        "SELECT src, dst FROM edges WHERE label = 'NEXT_ORDER' AND NOT is_back").fetchall()


def _components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {x: find(x) for x in parent}
    return len(comp), len(set(comp.values())), sum(comp.values())


def _pagerank(pairs, iters: int, d: float = 0.85):
    """GraphX semantics as in ``analytics.pagerank``: parallel links collapse,
    ranks start at 1.0, dangling mass is not redistributed."""
    links = sorted(set(pairs))
    outdeg = defaultdict(int)
    for s, _ in links:
        outdeg[s] += 1
    nodes = {x for p in links for x in p}
    rank = dict.fromkeys(nodes, 1.0)
    for _ in range(iters):
        contrib = defaultdict(float)
        for s, t in links:
            contrib[t] += rank[s] / outdeg[s]
        rank = {n: (1 - d) + d * contrib[n] for n in nodes}
    return len(rank), sum(rank.values())


def _closure(pairs):
    """Reachable ordered pairs and their summed hop counts over chains."""
    nxt = dict(pairs)
    heads = set(nxt) - set(nxt.values())
    rows = depth = 0
    for h in heads:
        n = 1
        x = h
        while x in nxt:
            x = nxt[x]
            n += 1
        rows += n * (n - 1) // 2
        depth += (n - 1) * n * (n + 1) // 6  # sum over pairs i<j of (j - i)
    return rows, depth


WORD_RE = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")


def wordpiece_vocab(texts) -> list:
    """The benchmark's WordPiece inventory: every letter, and the 2..4-char
    prefixes of the corpus's alphabetic words. Digits and symbols stay out,
    so some words segment to ``[UNK]``."""
    pieces = {chr(c) for c in range(ord("a"), ord("z") + 1)}
    for t in texts:
        for w in WORD_RE.findall(t.lower()):
            if w.isalpha():
                pieces.update(w[:k] for k in range(2, min(len(w), WORDPIECE_MAX_LEN) + 1))
    return sorted(pieces)


def _greedy(word: str, vocab: set, k: int, max_pieces: int = 64) -> list:
    out, pos = [], 0
    while pos < len(word):
        for ln in range(min(k, len(word) - pos), 0, -1):
            cand = ("##" if pos else "") + word[pos:pos + ln]
            if cand in vocab:
                break
        else:
            return ["[UNK]"]
        if len(out) >= max_pieces:
            return ["[UNK]"]
        out.append(cand)
        pos += ln
    return out


def _wordpiece_expect(texts, pieces):
    vocab = set(pieces) | {"##" + p for p in pieces}
    rows = pos_sum = len_sum = 0
    for t in texts:
        for w in WORD_RE.findall(t.lower()):
            seg = _greedy(w, vocab, WORDPIECE_MAX_LEN)
            rows += len(seg)
            pos_sum += len(seg) * (len(seg) - 1) // 2
            len_sum += sum(len(p) for p in seg)
    return [rows, pos_sum, len_sum]


def batch_answers(data_dir: str) -> dict:
    """Expected answers of every batch op (they do not depend on the seed),
    cached next to the data they were computed from."""
    from judy_graph_db_spark import oracle as O

    path = os.path.join(data_dir, "batch_answers.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _edges_db(data_dir)
    chains = _chains(con)
    texts = [r[0] for r in con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    pieces = wordpiece_vocab(texts)
    q = lambda sql: [int(v) for v in con.execute(sql).fetchone()]  # noqa: E731
    tf, df = defaultdict(int), defaultdict(int)
    for doc, t in enumerate(texts):
        toks = WORD_RE.findall(t.lower())
        for w in toks:
            tf[(doc, w)] += 1
        for w in set(toks):
            df[w] += 1
    answers = {
        "connected_components": {"expect": list(_components(chains))},
        "pagerank": {"expect": list(_pagerank(chains, PAGERANK_ITERS))},
        "transitive_closure": {"expect": list(_closure(chains))},
        "exact_dedup": {"expect": q("SELECT count(DISTINCT text), count(*) FROM documents")},
        "minhash_lsh_candidates": {"expect": q(f"SELECT count(*) FROM ({O.lsh_pairs_sql()}) p")},
        "gopher_quality_filter": {
            "expect": q(f"SELECT count(*), sum(keep) FROM ({O.gopher_keep_sql()}) g")},
        "term_stats": {"expect": [len(tf), sum(tf.values()), sum(df[w] for _, w in tf)]},
        "wordpiece_encode": {"args": {"pieces": pieces},
                             "expect": _wordpiece_expect(texts, pieces)},
        "exact_substring_dedup": {"expect": q(
            f"SELECT count(*), sum(n_removed_tokens) FROM ({O.exact_substring_dedup_sql(k=8)}) s")},
    }
    con.close()
    with open(path, "w") as f:
        json.dump(answers, f)
    return answers


def batch_script(data_dir: str, seed: int) -> list:
    """One pass: the graph ops over the NEXT_ORDER chains, then the corpus
    ops, each group in a seeded order."""
    answers = batch_answers(data_dir)
    rng = np.random.default_rng(seed)
    script = []
    for group in (GRAPH_OPS, CORPUS_OPS):
        for i in rng.permutation(len(group)):
            kind = group[i]
            script.append({"kind": kind, "cls": "batch", "phase": "batch",
                           "args": answers[kind].get("args", {}),
                           "expect": answers[kind]["expect"]})
    return script


def make_script(workload: str, data_dir: str, seed: int, **kw) -> list:
    if workload == "lookup_write":
        script = lookup_write_script(data_dir, seed, **kw)
    elif workload == "batch":
        script = batch_script(data_dir, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    for i, op in enumerate(script):
        op["op_id"] = i
    return script
