"""Closed-loop benchmark of the engine's query and delete paths.

Run from the root of a checkout:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 12 --trace 0

One client process drives the engine's public functions on one
``local[nproc]`` session, one op at a time (a closed loop with one
client). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics from
spans around every public call, and prints the tracing overhead.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
PKG = "news_information_retrieval_system_spark"
STATE = ROOT / ".perfbench"

# The driver heap, fixed for every workload (the engine's default is sized
# for a much larger host).
DRIVER_MEM = "2g"

# workload -> does a WAND/docpart op answer a whole batch (else one query)
WORKLOADS = {
    "interactive": False,  # Spark's per-job fixed overhead dominates
    "batch": True,  # kernel compute dominates
}

# --scale tiny shrinks only the corpus and the batch, so the benchmark's
# own tests run the code path of real runs in seconds
SCALES = {
    "full": {"turns": 24_000, "batch": 1024},  # the corpus fits the cache
    "tiny": {"turns": 1_500, "batch": 16},
}
# Untimed rounds of every op type before timing, at full op size: after a
# warm-up round of one-query ops, the first timed 1024-query round still
# ran 10-40% slow.
WARM_ROUNDS = 1
NAIVE_QUERIES = 16  # batch workload: naive plan / check sub-batch
DELETES = 3  # doc ids tombstoned per delete op
CODEC_EVERY = 8  # the codec sample holds 1 in this many block rows
CODEC_MIN_S = 0.2  # codec sample loop runs at least this long
K = 10

OPS = ("wand", "docpart", "naive", "delete")

# The rows each plan's scoring step takes in, read from the metrics of the
# plan Spark ran: (op, layer span, count name, scoring node, part of its
# input node's name). WAND and docpart score in a Python kernel; the naive
# plan sums the rows its posting join emits.
QUERY_COUNTS = (
    ("wand", "query.wand.wand_topk", "query.wand.block_rows_in", "MapInPandas", None),
    ("docpart", "query.bm25_batch.bm25_topk_docpart", "query.bm25_batch.postings_in",
     "MapInPandas", None),
    ("naive", "query.bm25.bm25_topk", "query.bm25.postings_in", "HashAggregate", "Join"),
)

END_TO_END = (
    ("setup_s", "s"),
    ("wand_p50_s", "s"),
    ("docpart_p50_s", "s"),
    ("naive_p50_s", "s"),
    ("throughput_q_per_s", "1/s"),
    ("index_bytes_per_text_byte", "ratio"),
    ("peak_rss_mb", "MB"),
)

LAYERS = (
    "session",
    "index.build.build_index",
    "index.segments.build_blocked_postings",
    "index.codec.encode_block",
    "index.codec.decode_block",
    "index.tombstones.write_tombstones",
    "index.tombstones.apply_tombstones",
    "query.bm25.query_terms_df",
    "query.bm25.bm25_topk",
    "query.bm25_batch.bm25_topk_docpart",
    "query.wand.wand_topk",
)
LAYER_FIELDS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("executor_run_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
# exact for a seed: a second run of the same seed must reproduce them
EXACT_COUNTS = (
    ("index.build.postings", "count"),
    ("index.segments.blocks", "count"),
    ("index.segments.block_bytes", "bytes"),
    ("query.wand.block_rows_in", "count"),
    ("query.bm25_batch.postings_in", "count"),
    ("query.bm25.postings_in", "count"),
    ("query.wand.rows_in_per_result", "ratio"),
    ("query.bm25_batch.rows_in_per_result", "ratio"),
    ("query.bm25.rows_in_per_result", "ratio"),
)
PER_LAYER = (
    tuple((f"{layer}.{f}", u) for layer in LAYERS for f, u in LAYER_FIELDS)
    + EXACT_COUNTS
    + (
        ("index.codec.decode_ns_per_posting", "ns"),
        ("index.codec.encode_ns_per_posting", "ns"),
        ("session.jvm_gc_s", "s"),
        ("wand_p90_s", "s"),
        ("delete_p50_s", "s"),
    )
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    return p.parse_args(argv)


def configure_env(run_dir: Path) -> None:
    """Fix the session's resources, and keep every file it writes in the
    run directory. Must run before the JVM starts."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    py_path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            # workers import the package from the checkout, whatever the cwd
            "PYTHONPATH": os.pathsep.join(py_path),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )


def source_digest() -> str:
    """A digest of the engine's and the benchmark's Python sources. Cached
    corpora and stored exact counts are keyed by it, so a checkout only
    ever compares runs of the same program."""
    h = hashlib.sha256()
    for d in (PKG, "perfbench"):
        for f in sorted((ROOT / d).rglob("*.py")):
            if "tests" not in f.relative_to(ROOT).parts:
                h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return None
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args, run_dir: Path) -> None:
        from perfbench.checks import OpLedger
        from perfbench.spans import Tracer

        self.args = args
        self.digest = None  # of the sources, set in setup
        self.cfg = SCALES[args.scale]
        self.batch = self.cfg["batch"] if WORKLOADS[args.workload] else 1
        self.run_dir = run_dir
        self.store = run_dir / "store"  # segment + tombstone directory
        self.trace_on = args.trace == 1
        self.tracer = Tracer(
            self.trace_on, rows_in={span: (node, inp) for _, span, _, node, inp in QUERY_COUNTS}
        )
        self.ledger = OpLedger()
        self.lat: dict[str, list[float]] = defaultdict(list)  # untraced ops
        self.lat_traced: dict[str, list[float]] = defaultdict(list)
        self.queries_answered = 0
        self.query_seconds = 0.0
        self.deleted: set[int] = set()
        self.counts: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.op_seq = 0
        self.spark = None
        self.sampler = None

    # -- setup ------------------------------------------------------------
    def setup(self) -> dict:
        from perfbench import inputs
        from perfbench.procs import MemorySampler
        from news_information_retrieval_system_spark.session import get_spark

        # seeded input, cached on disk and excluded from setup_s
        t0 = time.perf_counter()
        self.digest = source_digest()
        self.corpus, self.corpus_meta = inputs.ensure_corpus(
            STATE / "cache", self.args.seed, self.cfg["turns"], self.digest
        )
        input_s = time.perf_counter() - t0
        with self.tracer.span("session"):
            self.spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - PROCESS_START - input_s
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.tracer.sc = sc
        self.tracer.sql = self.spark._jsparkSession.sharedState().statusStore()
        self.sampler = MemorySampler(sc._gateway.proc.pid).start()

        from news_information_retrieval_system_spark.corpus import vocabulary

        self.vocab = vocabulary()
        self.rng = {
            s: inputs.rng_for(self.args.seed, f"{self.args.workload}/{s}")
            for s in ("queries", "subset", "deletes")
        }

        build_s = self.build()
        self.n_docs, self.avgdl = self.idx.scalar_stats()
        self.exact_index_counts()
        if self.trace_on:
            self.codec_sample()

        t0 = time.perf_counter()
        for r in range(WARM_ROUNDS):
            self.round(f"warm{r}", record=False, delete=self.trace_on)
        warm_s = time.perf_counter() - t0
        log("setup", json.dumps({
            "input_s": input_s, "session_s": session_s, "build_s": build_s, "warm_s": warm_s,
        }))
        return {"setup_s": session_s + build_s + warm_s}

    def build(self) -> float:
        """scan → build_index → materialize → build_blocked_postings →
        segment parquet write; returns its wall time."""
        from news_information_retrieval_system_spark.index.build import build_index
        from news_information_retrieval_system_spark.index.segments import (
            build_blocked_postings,
        )

        t0 = time.perf_counter()
        docs = self.spark.read.parquet(str(self.corpus))
        with self.tracer.span("index.build.build_index"):
            self.idx = build_index(docs).materialize()
        with self.tracer.span("index.segments.build_blocked_postings"):
            self.blocks = build_blocked_postings(
                self.idx.postings, term_dict=self.idx.term_stats
            ).persist()
            self.blocks.write.parquet(str(self.store / "segment"))
        dt = time.perf_counter() - t0
        self.tracer.resolve()
        return dt

    def exact_index_counts(self) -> None:
        from pyspark.sql import functions as F

        row = self.blocks.agg(
            F.count("*").alias("n"), F.sum("nbytes").alias("bytes")
        ).first()
        self.counts["index.build.postings"] = self.idx.postings.count()
        self.counts["index.segments.blocks"] = int(row["n"])
        self.counts["index.segments.block_bytes"] = int(row["bytes"])
        self.counts["index_bytes_per_text_byte"] = (
            int(row["bytes"]) / self.corpus_meta["text_bytes"]
        )

    def codec_sample(self) -> None:
        """Time the block codec on a seeded sample of block rows, and check
        that every sampled block round-trips byte for byte."""
        from pyspark.sql import functions as F

        from news_information_retrieval_system_spark.index.codec import (
            decode_block,
            encode_block,
        )
        from news_information_retrieval_system_spark.index.segments import (
            DEFAULT_SPAN_BITS,
        )

        pick = F.pmod(F.xxhash64("term", "block_key", F.lit(self.args.seed)), F.lit(CODEC_EVERY))
        rows = (
            self.blocks.where(pick == 0)
            .select("block_key", "n", "data")
            .collect()
        )
        sample = [
            (bytes(r["data"]), int(r["n"]), int(r["block_key"]) << DEFAULT_SPAN_BITS)
            for r in rows
        ]
        postings = sum(n for _, n, _ in sample)
        with self.tracer.span("index.codec.decode_block"):
            decoded, dec_s = self._timed_passes(decode_block, sample)
        arrays = [(*d, base) for d, (_, _, base) in zip(decoded, sample)]
        with self.tracer.span("index.codec.encode_block"):
            encoded, enc_s = self._timed_passes(encode_block, arrays)
        if encoded != [data for data, _, _ in sample]:
            self.ledger.errors.append("codec: re-encoded blocks differ from the stored ones")
        self.extra["index.codec.decode_ns_per_posting"] = dec_s / postings * 1e9
        self.extra["index.codec.encode_ns_per_posting"] = enc_s / postings * 1e9
        self.tracer.resolve()

    def _timed_passes(self, fn, items):
        """Call fn(*item) for every item, in passes, until the passes took
        codec_min_s; returns the outputs and the seconds of one pass."""
        passes, t0 = 0, time.perf_counter()
        while True:
            out = [fn(*item) for item in items]
            passes += 1
            dt = time.perf_counter() - t0
            if dt >= CODEC_MIN_S:
                return out, dt / passes

    # -- ops --------------------------------------------------------------
    def _op(self, op: str, fn, record: bool):
        """Run one op under its own span and timer; returns (rows, seconds)
        or None if it raised (counted as a failed op when recorded)."""
        self.tracer.op_id = self.op_seq
        self.op_seq += 1
        try:
            with self.tracer.span(f"op.{op}"):
                t0 = time.perf_counter()
                rows = fn()
                dt = time.perf_counter() - t0
        except Exception as e:  # an op that raises is a failed op
            if not record:
                raise
            self.ledger.fail(op, e)
            return None
        return [tuple(r) for r in rows], dt

    def _qterms(self, queries: dict):
        from news_information_retrieval_system_spark.query.bm25 import query_terms_df

        with self.tracer.span("query.bm25.query_terms_df"):
            return query_terms_df(self.spark, queries)

    def op_wand(self, queries):
        from news_information_retrieval_system_spark.query.wand import wand_topk

        qt = self._qterms(queries)
        qidf = qt.join(self.idx.term_stats.select("term", "idf"), "term")
        with self.tracer.span("query.wand.wand_topk"):
            return wand_topk(self.blocks, qidf, self.n_docs, self.avgdl, k=K).collect()

    def op_docpart(self, queries):
        from news_information_retrieval_system_spark.query.bm25_batch import (
            bm25_topk_docpart,
        )

        qt = self._qterms(queries)
        with self.tracer.span("query.bm25_batch.bm25_topk_docpart"):
            return bm25_topk_docpart(self.idx, qt, k=K).collect()

    def op_naive(self, queries, index=None):
        from news_information_retrieval_system_spark.query.bm25 import bm25_topk

        qt = self._qterms(queries)
        with self.tracer.span("query.bm25.bm25_topk"):
            return bm25_topk(index or self.idx, qt, k=K).collect()

    def op_delete(self, victims, queries):
        """Tombstone ``victims``, then query the masked index: the time from
        the write to the query's result."""
        from news_information_retrieval_system_spark.index.tombstones import (
            apply_tombstones,
            load_tombstones,
            write_tombstones,
        )

        with self.tracer.span("index.tombstones.write_tombstones"):
            write_tombstones(self.spark, str(self.store), victims)
        with self.tracer.span("index.tombstones.apply_tombstones"):
            masked = apply_tombstones(self.idx, load_tombstones(self.spark, str(self.store)))
        return self.op_naive(queries, index=masked)

    # -- rounds -----------------------------------------------------------
    def round(self, rid: str, record: bool, traced: bool = False, delete: bool = False) -> None:
        """Every query op type once on one draw of queries, then optionally
        a delete op, then the checks.

        WAND and docpart answer the whole draw; the naive plan answers a
        seeded subset (all of it in the interactive workload) and is the
        reference both must agree with there. The delete op tombstones a
        seeded handful of the naive top-k of one query and re-asks it."""
        from perfbench import checks, inputs

        texts = inputs.draw_queries(self.rng["queries"], self.vocab, self.batch)
        qs = {f"{rid}q{i:04d}": t for i, t in enumerate(texts)}
        ids = list(qs)
        n_sub = min(len(ids), NAIVE_QUERIES) if len(ids) > 1 else 1
        sub_ids = sorted(self.rng["subset"].sample(ids, n_sub))
        sub = {q: qs[q] for q in sub_ids}
        self.tracer.enabled = traced
        res = {
            "wand": self._op("wand", lambda: self.op_wand(qs), record),
            "docpart": self._op("docpart", lambda: self.op_docpart(qs), record),
            "naive": self._op("naive", lambda: self.op_naive(sub), record),
        }
        dq = sub_ids[0]
        if delete:
            # the prior top-k of the delete query, from the reference plan
            prior = next((r for r in (res["naive"], res["docpart"]) if r), None)
            top = [d for q, _, d, _ in prior[0] if q == dq] if prior else []
            victims = inputs.pick_deletes(
                self.rng["deletes"], [d for d in top if d not in self.deleted], DELETES
            )
            if victims:
                self.deleted.update(victims)
                res["delete"] = self._op(
                    "delete", lambda: self.op_delete(victims, {dq: qs[dq]}), record
                )
            elif record:
                self.ledger.fail("delete", checks.CheckFailed(f"{dq}: no prior top-k to delete from"))
        self.tracer.enabled = self.trace_on
        self.tracer.resolve()
        if record:
            self.check_round(res, ids, sub_ids, dq, traced)
            if traced and "query.wand.block_rows_in" not in self.counts:
                self.exact_query_counts(res)

    def check_round(self, res, ids, sub_ids, dq, traced) -> None:
        from perfbench import checks

        grouped = {}
        ref = None
        if res["naive"]:
            ref = checks.by_query(res["naive"][0])

        def verify(op):
            rows, _ = res[op]
            if op == "delete":
                g = checks.check_ranked(rows, [dq], K)
                checks.check_excludes(g, self.deleted)
                return
            g = checks.check_ranked(rows, sub_ids if op == "naive" else ids, K)
            grouped[op] = g
            if op == "naive":
                return
            if ref is None:
                raise checks.CheckFailed("no bm25_topk reference to check against")
            checks.check_agree(g, ref, sub_ids, op)
            if op == "docpart" and "wand" in grouped:
                checks.check_agree(g, grouped["wand"], ids, "docpart vs wand")

        lat = self.lat_traced if traced else self.lat
        for op in OPS:
            if not res.get(op):
                continue
            if self.ledger.record(op, lambda: verify(op)):
                dt = res[op][1]
                lat[op].append(dt)
                if op in ("wand", "docpart"):
                    self.queries_answered += len(ids)
                    self.query_seconds += dt

    def exact_query_counts(self, res) -> None:
        """Rows each plan's scoring step took in during the first timed
        round, as its own plan metrics counted them, and per result row.
        Exact for a seed."""
        for op, span, name, _, _ in QUERY_COUNTS:
            rows_in = next(s["rows_in"] for s in self.tracer.spans if s["name"] == span)
            n_out = len(res[op][0]) if res[op] else 0
            self.counts[name] = rows_in
            self.counts[name.rsplit(".", 1)[0] + ".rows_in_per_result"] = (
                rows_in / n_out if n_out else 0.0
            )

    # -- results ----------------------------------------------------------
    def end_to_end(self, setup: dict) -> dict:
        lat = self.lat
        return {
            "setup_s": setup["setup_s"],
            "wand_p50_s": median(lat["wand"]),
            "docpart_p50_s": median(lat["docpart"]),
            "naive_p50_s": median(lat["naive"]),
            "throughput_q_per_s": (
                self.queries_answered / self.query_seconds if self.query_seconds else None
            ),
            "index_bytes_per_text_byte": self.counts["index_bytes_per_text_byte"],
            "peak_rss_mb": self.sampler.peak / 2**20,
        }

    def per_layer(self) -> dict:
        from perfbench.spans import STAGE_FIELDS

        selfs = self.tracer.self_times()
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.tracer.spans if s["name"] == layer]
            values = {
                "wall_s": [s["end"] - s["start"] for s in spans],
                "self_s": [selfs[s["id"]] for s in spans],
            }
            for f in STAGE_FIELDS:
                values[f] = [s[f] for s in spans]
            for f, _ in LAYER_FIELDS:
                out[f"{layer}.{f}"] = median(values[f]) if spans else 0
        for name, _ in EXACT_COUNTS:
            out[name] = self.counts.get(name, 0)
        out.update(self.extra)
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        out["session.jvm_gc_s"] = sum(b.getCollectionTime() for b in beans) / 1e3
        out["wand_p90_s"] = quantile(self.lat["wand"] + self.lat_traced["wand"], 0.9)
        out["delete_p50_s"] = median(self.lat["delete"] + self.lat_traced["delete"])
        return out

    def tracing_report(self) -> dict:
        """Per op type: traced and untraced median wall time, and their
        difference, the tracing overhead. Also the median part of a traced
        op that no layer span covers: the self time of its ``op.*`` root
        span. The layer spans' self times sum to the op's wall time less
        that part, so it must stay within the overhead's size (the
        overhead is a difference of two medians, and its sign is noise)."""
        selfs = self.tracer.self_times()
        report = {}
        for op in OPS:
            roots = [s for s in self.tracer.spans if s["name"] == f"op.{op}"]
            traced, untraced = median(self.lat_traced[op]), median(self.lat[op])
            overhead = traced - untraced if traced and untraced else None
            uncovered = median([selfs[s["id"]] for s in roots])
            report[op] = {
                "traced_p50_s": traced,
                "untraced_p50_s": untraced,
                "overhead_s": overhead,
                "uncovered_p50_s": uncovered,
            }
            if overhead is not None and uncovered is not None and uncovered > abs(overhead):
                log(
                    "FAILED", f"tracing: {op}: {uncovered:.4f} s of the op is in no layer "
                    f"span, more than the tracing overhead ({overhead:+.4f} s)"
                )
        return report

    def self_check_counts(self) -> bool:
        """Exact counts must repeat for a seed: compare with the counts an
        earlier run of this seed stored, then store the union."""
        a = self.args
        path = STATE / "cache" / f"counts-{a.workload}-s{a.seed}-{a.scale}-{self.digest}.json"
        known = json.loads(path.read_text()) if path.exists() else {}
        diff = {
            k: (known[k], v) for k, v in self.counts.items() if k in known and known[k] != v
        }
        if diff:
            self.ledger.errors.append(f"exact counts differ from an earlier run: {diff}")
            return False
        path.write_text(json.dumps({**known, **self.counts}, sort_keys=True))
        return True

    def close(self) -> None:
        from perfbench.procs import stop_spark

        if self.sampler is not None:
            self.sampler.stop()
        if self.spark is not None:
            killed = stop_spark(self.spark)
            if killed:
                log("killed leftover processes", sorted(killed))

    # -- the run ----------------------------------------------------------
    def run(self) -> dict:
        setup = self.setup()
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < self.args.seconds:
            # Delete ops run in traced runs only, one traced and one
            # untraced: with a warm-up delete, they cost about 8 s a run,
            # which the run budget of untraced runs cannot spare.
            self.round(
                f"r{n}", record=True, traced=self.trace_on and n % 2 == 0,
                delete=self.trace_on and n < 2,
            )
            n += 1
        log("rounds", n, "measured_s", round(time.perf_counter() - t0, 3))
        counts_ok = self.self_check_counts()
        print("counts " + json.dumps(self.counts, sort_keys=True), flush=True)
        log("latencies", json.dumps({"untraced": self.lat, "traced": self.lat_traced}))
        if self.trace_on:
            metrics = self.per_layer()
            units = dict(PER_LAYER)
            log("tracing", json.dumps(self.tracing_report()))
            trace_dir = STATE / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            self.tracer.write(trace_dir / f"{self.args.workload}-s{self.args.seed}.jsonl")
        else:
            metrics = self.end_to_end(setup)
            units = dict(END_TO_END)
        for e in self.ledger.errors:
            log("FAILED", e)
        complete = all(v is not None for v in metrics.values())
        return {
            "correct": counts_ok and complete and not self.ledger.errors,
            "attempted": self.ledger.total_attempted,
            "failed": self.ledger.total_failed,
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    # Import from the checkout root only. The script's own directory comes
    # off sys.path, and the engine package directory never goes on it: its
    # tokenize.py would shadow the standard library module.
    here = Path(__file__).resolve().parent
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() not in (here, ROOT)]
    run_dir = STATE / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    (STATE / "cache").mkdir(parents=True, exist_ok=True)
    import news_information_retrieval_system_spark as engine

    if not Path(engine.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: imported the engine from {engine.__file__}", file=sys.stderr)
        return 2
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
