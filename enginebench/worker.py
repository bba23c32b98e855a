"""The engine side of one benchmark run; ``run.py`` launches it.

Reads a job file (workload, seconds, trace flag, data directory and the op
script with expected answers), starts the session, sets the input up
several times, runs whole passes of the script until the time is spent,
checks every answer, and writes a result file. Only the engine's public
API is called; the per-layer spans wrap those calls from outside.

    python3 enginebench/worker.py <job.json> <result.json>
"""

from __future__ import annotations

import json
import math
import statistics
import sys
import time

SETUP_REPEATS = 3

LAYER = {
    "nodes_by_attr": "operators.adjacency", "node_edge": "operators.adjacency",
    "edge_count": "operators.adjacency", "children": "operators.adjacency",
    "pattern_2hop_from": "plans.compiler", "several_next_order": "plans.compiler",
    "motif_2hop_from": "plans.motif", "write": "operators.mutation",
    "connected_components": "operators.analytics", "pagerank": "operators.analytics",
    "transitive_closure": "operators.analytics",
    "exact_dedup": "operators.dedup", "minhash_lsh_candidates": "operators.dedup",
    "exact_substring_dedup": "operators.dedup", "gopher_quality_filter": "operators.curation",
    "term_stats": "operators.stats", "wordpiece_encode": "operators.wordpiece",
}


def storage_mb(sc) -> float:
    """Block-manager bytes (memory + disk) of every cached RDD."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20


class Run:
    def __init__(self, job: dict):
        self.job = job
        self.data = job["data_dir"]

    # -------------------------------------------------------------- setup

    def start(self):
        from judy_graph_db_spark.session import get_spark

        from spans import Tracer

        self.spark = get_spark("enginebench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr = Tracer(self.spark, bool(self.job["trace"]))

    def build_input(self):
        """The workload's warm, cached input: the TPC-H graph (both
        workloads), plus the documents corpus for ``batch``."""
        from pyspark.sql import functions as F

        from judy_graph_db_spark.sources.tpch_graph import tpch_graph

        tr = self.tr
        with tr.span("sources.tpch_graph", phase="setup") as s:
            g = tpch_graph(self.spark, self.data)
            g.edges = g.edges.cache()
            g.edges.count()
        self.g = g
        self.edges_mb = storage_mb(self.spark.sparkContext)
        built = {"tpch_graph.build_s": s["end"] - s["start"]}
        if self.job["workload"] == "batch":
            cpus = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            with tr.span("corpus.load", phase="setup") as s:
                docs = self.spark.table("documents").repartition(cpus).cache()
                docs.count()
            self.docs = docs
            self.chains = g.edges.filter(~F.col("is_back") & (F.col("label") == "NEXT_ORDER"))
            built["corpus.load_s"] = s["end"] - s["start"]
        return built

    def drop_input(self):
        self.g.edges.unpersist(blocking=True)
        if self.job["workload"] == "batch":
            self.docs.unpersist(blocking=True)

    # ---------------------------------------------------------------- ops

    def _act(self, op, df, rec):
        """Plan (traced: timed apart) and run the action; returns rows."""
        rec.update(self.tr.plan_info(df))
        with self.tr.span("action", op_id=op["op_id"]) as a:
            rows = df.collect()
        rec["action"] = a["span"]
        rec["rows_out"] = len(rows)
        return rows

    def _point(self, op, g, rec):
        from judy_graph_db_spark.operators import adjacency as A

        kind, args = op["kind"], op["args"]
        with self.tr.span("call", op_id=op["op_id"]) as c:
            if kind == "nodes_by_attr":
                df = A.adjacent_nodes_by_attr(g, args[0], args[1], backwards=args[2])
            elif kind == "node_edge":
                df = A.lookup_node_edge(g, args[0], args[1], args[2])
            elif kind == "edge_count":
                df = A.adjacent_edge_count(g, args[0]).select("label", "degree")
            else:
                df = A.all_children(g, args[0])
        rec["call"] = c["span"]
        rows = self._act(op, df, rec)
        return sorted([list(r) for r in rows])

    def _pattern(self, op, g, rec):
        from pyspark.sql import functions as F

        from judy_graph_db_spark import E, N, match_motif, table

        kind, (anchor,) = op["kind"], op["args"]
        with self.tr.span("call", op_id=op["op_id"]) as c:
            if kind == "pattern_2hop_from":
                df = table(g, N(ids=[anchor]) >> E("PLACED", direction="r") >> N()
                           >> E("CONTAINS", direction="r") >> N(labels=["PART"]))
            elif kind == "several_next_order":
                df = table(g, N(ids=[anchor])
                           >> E("NEXT_ORDER", direction="r", several=(1, 3)) >> N())
            else:
                df = match_motif(g, f"(c={anchor})-[:PLACED]->(o)-[:CONTAINS]->(p:PART)")
            df = df.agg(F.count(F.lit(1)))
        rec["call"] = c["span"]
        rec["rows_out"] = count = int(self._act(op, df, rec)[0][0])
        return count

    def _write(self, op, rec):
        from judy_graph_db_spark.operators import adjacency as A
        from judy_graph_db_spark.operators import mutation as M

        a = op["args"]
        rows = [tuple(r) for r in a["rows"]]
        with self.tr.span("call", op_id=op["op_id"]) as c:
            if a["kind"] == "append":
                g = M.insert_node_edges(self.cur, rows)
            elif a["kind"] == "overwrite":
                g = M.insert_node_edges(self.cur, rows, overwrite=True)
            elif a["kind"] == "delete":
                g = M.delete_edges(self.cur, rows)
            else:
                g = M.update_node_edges(self.cur, rows)
        rec["call"] = c["span"]
        self.cur = g
        rows = self._act(op, A.all_children(g, a["node"]), rec)  # time to visible
        return sorted([list(r) for r in rows])

    def _batch(self, op, rec):
        from pyspark.sql import functions as F

        from judy_graph_db_spark.operators import analytics as AN
        from judy_graph_db_spark.operators import curation as CU
        from judy_graph_db_spark.operators import dedup as D
        from judy_graph_db_spark.operators import stats as ST
        from judy_graph_db_spark.operators import wordpiece as WP

        kind, n = op["kind"], F.count(F.lit(1))
        with self.tr.span("call", op_id=op["op_id"]) as c:
            if kind == "connected_components":
                df = AN.connected_components(self.chains).agg(
                    n, F.countDistinct("component"), F.sum("component"))
            elif kind == "pagerank":
                df = AN.pagerank(self.chains, iters=3).agg(n, F.sum("rank"))
            elif kind == "transitive_closure":
                df = AN.transitive_closure(self.chains).agg(n, F.sum("depth"))
            elif kind == "exact_dedup":
                df = D.exact_dedup(self.docs).agg(n, F.sum("n_copies"))
            elif kind == "minhash_lsh_candidates":
                df = D.minhash_lsh_candidates(self.docs).agg(n)
            elif kind == "gopher_quality_filter":
                df = CU.gopher_quality_filter(self.docs).agg(n, F.sum(F.col("keep").cast("long")))
            elif kind == "term_stats":
                df = ST.term_stats(self.docs).agg(n, F.sum("tf"), F.sum("df"))
            elif kind == "wordpiece_encode":
                vocab = WP.wordpiece_vocab_from_pieces(self.spark.createDataFrame(
                    [(p,) for p in op["args"]["pieces"]], "piece string"))
                df = WP.wordpiece_encode(self.docs, vocab, max_piece_len=4).agg(
                    n, F.sum("piece_pos"), F.sum(F.length("piece")))
            elif kind == "exact_substring_dedup":
                df = D.exact_substring_dedup(self.docs, k=8).agg(n, F.sum("n_removed_tokens"))
            else:
                raise ValueError(kind)
        rec["call"] = c["span"]
        row = self._act(op, df, rec)[0]
        rec["rows_out"] = int(row[0])  # rows of the op's output relation
        if kind == "wordpiece_encode":
            rec["python_ms"] = self.tr.python_ms(df)
        return [v if isinstance(v, float) else int(v) for v in row]

    def execute(self, op) -> tuple:
        """Runs one op; returns (latency_s, ok). An exception or a wrong
        answer is a failed op."""
        with self.tr.span(LAYER[op["kind"]], op_id=op["op_id"], kind=op["kind"],
                          cls=op["cls"], phase=op["phase"],
                          write_no=op.get("write_no", 0)) as rec:
            try:
                if op["cls"] == "point":
                    got = self._point(op, self.cur, rec)
                elif op["cls"] == "pattern":
                    got = self._pattern(op, self.cur, rec)
                elif op["cls"] == "write":
                    got = self._write(op, rec)
                else:
                    got = self._batch(op, rec)
                err = None
            except Exception as e:  # counted in failed, the run goes on
                got, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        ok = err is None and same(got, op["expect"])
        rec["ok"] = ok
        if not ok:
            rec["error"] = err or f"got {str(got)[:300]}, expected {str(op['expect'])[:300]}"
            print(f"op {op['op_id']} ({op['kind']}) failed: {rec['error']}", file=sys.stderr)
        return rec["end"] - rec["start"], ok


def same(got, want) -> bool:
    if isinstance(want, list) and isinstance(got, list):
        return len(got) == len(want) and all(same(g, w) for g, w in zip(got, want))
    if isinstance(want, float) or isinstance(got, float):
        return got is not None and math.isclose(got, want, rel_tol=1e-9)
    return got == want


def main(job_path: str, out_path: str) -> None:
    with open(job_path) as f:
        job = json.load(f)
    run = Run(job)
    run.start()
    session_s = time.time() - job["t0"]

    builds = []
    for i in range(SETUP_REPEATS):
        if i:
            run.drop_input()
        builds.append(run.build_input())
    input_s = statistics.median(sum(b.values()) for b in builds)
    cache_mb = storage_mb(run.spark.sparkContext)

    script = job["script"]
    lat, passes, attempted, failed = [], [], 0, 0
    t_measure = time.perf_counter()
    while True:
        run.cur = run.g  # each pass starts from the set-up graph
        t_pass = time.perf_counter()
        for op in script:
            dt, ok = run.execute(op)
            lat.append((op["cls"], dt))
            attempted += 1
            failed += not ok
        passes.append(time.perf_counter() - t_pass)
        if time.perf_counter() - t_measure >= job["seconds"]:
            break

    result = {
        "attempted": attempted, "failed": failed,
        "session_s": session_s, "input_s": input_s, "builds": builds,
        "cache_mb": cache_mb, "edges_mb": run.edges_mb,
        "latencies": lat, "passes": passes,
        "trace_overhead_s": run.tr.overhead_s,
    }
    if job["trace"]:
        run.tr.dump(job["spans_path"])
    run.spark.stop()
    with open(out_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
