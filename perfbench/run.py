"""The repository's benchmark.

    python3 perfbench/run.py --workload hot|cold --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One run:

1. makes (or reuses from `.perfbench_cache/`) the seeded corpus, query
   streams and the oracle's expected answers;
2. Spark half (child process): `get_spark` and a cold `build_index`
   of the serving corpus, once per checkout; traced runs also build the
   seeded corpus and run `load_index` + one `wand_topk(...).collect()`
   batch over it;
3. serving half: a `SearchServer` over that index in a child
   process, set up several times, then open-loop HTTP at a `light` and
   a `loaded` rate, repeated (traced runs add a rate ladder for the
   highest rate that meets the latency limit);
4. checks a fixed sample of served responses (and the WAND batch) against
   `OracleIndex`, and prints one JSON line of metrics: the end-to-end
   metrics of BENCHMARK.json, or with `--trace 1` its per-layer metrics
   (spans are then written to `.perfbench_out/`).

Settings live in `perfbench/spec.json`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


_T0 = time.monotonic()


def _same_answer(got: list, exp: list) -> bool:
    return [tuple(x) for x in got] == [tuple(x) for x in exp]


class Run:
    def __init__(self, args, spec: dict):
        import expect
        import gen
        from spans import Tracer

        self.gen, self.expect = gen, expect
        self.args, self.spec = args, spec
        self.wl = spec["workloads"][args.workload]
        self.sv = spec["serve"]
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.scale = args.seconds / json.load(fh)["run_seconds"]
        self.tr = Tracer(bool(args.trace))
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        for d in (self.cache, self.work, self.out_dir):
            os.makedirs(d, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.m: dict[str, float] = {}  # end-to-end
        self.layer: dict[str, float] = {}  # per-layer

    # ------------------------------------------------------------ inputs
    def prepare(self) -> None:
        """Query streams from --seed over the serving corpus (a fixed
        seed, so its index is built once per checkout); traced runs also
        get a corpus and WAND batch from --seed for the Spark half."""
        g, a, wl = self.gen, self.args, self.wl
        n = self.spec["corpus_docs"]
        self.serve_pages = g.ensure_pages(self.cache, n, self.spec["serve_corpus_seed"])
        if a.workload == "hot":
            pool = g.hot_pool(a.seed, wl["pool_size"], wl["weighted_share"])
            self.warm = pool
            stream = [pool[i] for i in g.hot_order(a.seed, len(pool), wl["stream_n"])]
        else:
            stream = g.cold_stream(n, a.seed, n)
            self.warm = [{"query": f"term{1 + i % 299:04d}"} for i in range(wl["warm_n"])]
        cursor = [0]

        def pick(cnt):
            """The next cnt queries of the stream."""
            lo = cursor[0]
            cursor[0] += cnt
            if cursor[0] > len(stream):
                raise RuntimeError(f"{a.workload} query stream exhausted")
            return stream[lo : cursor[0]]

        self.pick = pick
        n_light = max(20, round(wl["light_n"] * self.scale))
        n_loaded = max(20, round(wl["loaded_n"] * self.scale))
        reps = range(self.sv["step_reps"])
        self.light_qs, self.loaded_qs = [], []
        for _ in reps:
            self.light_qs.append(pick(n_light))
            self.loaded_qs.append(pick(n_loaded))
        c = self.sv["check_n"]
        self.expected = self.expect.expected_answers(
            ROOT, self.cache, self.serve_pages, f"serve_n{n}",
            [self.expect.query_key(q) for qs in self.light_qs + self.loaded_qs
             for q in qs[:c]],
            _nproc(),
        )
        import pyarrow.parquet as pq

        t = pq.read_table(self.serve_pages, columns=["doc_id", "url"])
        self.urls = dict(zip(t.column("doc_id").to_pylist(), t.column("url").to_pylist()))
        if not a.trace:
            return
        self.pages_dir = g.ensure_pages(self.cache, n, a.seed)
        if a.workload == "hot":
            self.batch = g.batch_queries(n, a.seed, wl["batch_mix"])
        else:
            pairs = g.cold_stream(n, a.seed + 7919, wl["batch_mix"])
            self.batch = [
                {"query_id": i, "text": q["query"], "k": 10} for i, q in enumerate(pairs)
            ]
        self.batch_expected = self.expect.expected_answers(
            ROOT, self.cache, self.pages_dir, f"{a.workload}_s{a.seed}_n{n}",
            [self.expect.query_key({"query": q["text"], "k": q["k"]}) for q in self.batch],
            _nproc(),
        )
        t = pq.read_table(self.pages_dir, columns=["text"])
        self.text_bytes = sum(len(s.encode()) for s in t.column("text").to_pylist())

    def _spark_child(self, pages_dir: str, index_dir: str, trace: bool,
                     batch: list[dict]) -> dict:
        work = os.path.join(self.work, "spark")
        args = {
            "root": ROOT,
            "spark": self.spec["spark"],
            "cores": _nproc(),
            "trace": int(trace),
            "local_dir": os.path.join(work, "local"),
            "tmp_dir": os.path.join(work, "tmp"),
            "pages_dir": pages_dir,
            "index_dir": index_dir,
            "batch": batch,
            "out": os.path.join(work, "out.json"),
        }
        os.makedirs(args["tmp_dir"], exist_ok=True)
        path = os.path.join(work, "args.json")
        with open(path, "w") as fh:
            json.dump(args, fh)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "spark_phase.py"), path],
            stdout=sys.stderr,
            # keep every temp file the JVMs and Python workers write inside
            # the checkout (HotSpot's perf-data file ignores java.io.tmpdir)
            env=dict(
                os.environ,
                TMPDIR=args["tmp_dir"],
                JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={args['tmp_dir']}",
            ),
            check=True, timeout=170, cwd=work,
        )
        with open(args["out"]) as fh:
            so = json.load(fh)
        shutil.rmtree(work, ignore_errors=True)
        return so

    def ensure_serve_index(self) -> None:
        """The serving index is built from the serving corpus by this
        checkout's code, once, and cached under a hash of the package."""
        h = hashlib.sha256()
        pkg = os.path.join(ROOT, "meme_search_engine_spark")
        for dirpath, dirs, files in sorted(os.walk(pkg)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
        self.index_dir = os.path.join(
            self.cache, f"index_n{self.spec['corpus_docs']}_{h.hexdigest()[:16]}"
        )
        if os.path.exists(os.path.join(self.index_dir, "manifest.json")):
            return
        tmp = os.path.join(self.work, "serve_index")
        self._spark_child(self.serve_pages, tmp, False, [])
        if os.path.isdir(self.index_dir):
            shutil.rmtree(self.index_dir)
        shutil.move(tmp, self.index_dir)

    # ------------------------------------------------------------- spark
    def spark_half(self) -> None:
        """Traced runs only: session, cold build of the seeded corpus and
        a WAND batch over it, with Spark-side counts."""
        so = self._spark_child(
            self.pages_dir, os.path.join(self.work, "index"), True, self.batch
        )
        self.tr.spans.extend(so["spans"])
        self.tr.bookkeeping_s += so["trace_bookkeeping_s"]
        _log("spark: session {session_s:.1f}s build {build_s:.1f}s".format(**so))

        # answer check: every WAND query against the oracle
        for q in self.batch:
            got = so["batch_rows"].get(str(q["query_id"]), [])
            key = self.expect.query_key({"query": q["text"], "k": q["k"]})
            self.attempted += 1
            if not _same_answer(got, self.batch_expected[key]):
                self.wrong += 1
                self.failed += 1
        self.attempted += 1  # the build
        self.failed += so["build_jobs"]["failed_tasks"] > 0

        tm, bj = so["build_timings"], so["batch_jobs"]
        b, r = so["build_shuffle"]
        self.layer.update({
            "session.get_spark_s": so["session_s"],
            "session.jvm_rss_peak_mb": so["jvm_rss_peak_mb"],
            "index.builder.build_docs_per_s": self.spec["corpus_docs"] / so["build_s"],
            "index.build.stats_s": tm["stats"],
            "index.postings.partials_s": tm["partials"],
            "index.postings.shuffle_write_bytes": b,
            "index.postings.shuffle_write_records": r,
            "index.postings.segment_files": so["segment_files"],
            "index.postings.segment_bytes": so["segment_bytes"],
            "index.postings.bytes_per_text_byte": so["index_bytes"] / self.text_bytes,
            "index.builder.ledger_s": tm["ledger"],
            "index.builder.docmeta_s": tm["docmeta"],
            "index.builder.finalize_s": tm["finalize"],
            "index.builder.tail_s": so["build_s"] - tm["stats"] - tm["partials"],
            "index.builder.load_index_s": so["load_index_s"],
            "query.dataframe_engine.query_terms_s": so["query_terms_s"],
            "query.wand.batch_qps": len(self.batch) / so["batch_s"],
            "query.wand.topk_s": so["topk_s"],
            "query.wand.tasks": bj["tasks"],
            "query.wand.failed_tasks": bj["failed_tasks"],
            "query.wand.candidate_blocks": so["candidate_blocks"],
            "query.wand.blocks_scored_ratio": so["candidate_blocks"]
            / max(1, so["query_term_blocks"]),
        })
        self.spark_measured_s = so["build_s"] + so["batch_s"]

    # ------------------------------------------------------------- serve
    def serve_half(self) -> None:
        import serve_phase as sp

        sv, wl = self.sv, self.wl
        cpus = sorted(os.sched_getaffinity(0))
        warm_bodies = [sp.body_of(q) for q in self.warm]
        # the generator's threads get the first CPU and the server the
        # second.  The server runs Python under one interpreter lock: spread
        # over three CPUs it spent ~15 % more CPU per query, handing the
        # lock between them, and its CPU time varied more from run to run.
        server_cpus = cpus[1:2] or cpus
        os.sched_setaffinity(0, cpus[:1])
        setups, readies = [], []
        server = None
        try:
            # set-up, several times: spawn -> LocalSearcher built ->
            # listening -> query pool warmed; the last server is measured
            # (once in traced runs, which report no setup_s, to stay short)
            for _ in range(1 if self.args.trace else sv["setups"]):
                if server is not None:
                    server.stop()
                    server = None
                t0 = time.perf_counter()
                with self.tr.span("query.http_server.SearchServer"):
                    server = sp.ServerProcess(ROOT, self.index_dir, server_cpus)
                readies.append(time.perf_counter() - t0)
                gen = sp.Generator(server.port, min(sv["threads"], len(cpus)),
                                   sv["request_timeout_s"], sv["tail_pct"])
                with self.tr.span("bench.warm"):
                    warm_failed = gen.closed_loop(warm_bodies)
                setups.append(time.perf_counter() - t0)
                self.attempted += len(warm_bodies)
                self.failed += warm_failed
            _log(f"server set up {len(setups)}x: " + ", ".join(f"{x:.2f}s" for x in setups))

            # generator self-check at the top ladder rate: /health costs the
            # server next to nothing, so lateness here is the generator's
            chk = gen.open_loop("self_check", sv["ladder_qps"][-1],
                                [None] * sv["self_check_n"])
            self.attempted += chk.n
            self.failed += chk.failed
            self.layer["bench.gen_late_ms.p99"] = sp.pct(chk.late, 99)
            late_p50 = statistics.median(chk.late)
            _log(f"generator self-check: late p50 {late_p50:.2f} ms, "
                 f"p99 {self.layer['bench.gen_late_ms.p99']:.2f} ms")
            if late_p50 > sv["gen_late_p50_bound_ms"]:
                raise InvalidRun(
                    f"load generator sent GET /health {late_p50:.1f} ms late at "
                    f"the median (bound {sv['gen_late_p50_bound_ms']} ms)"
                )

            steps = []

            def step(name, rate, qs, keep=0):
                with self.tr.span(f"bench.step.{name}"):
                    s = gen.open_loop(name, rate, [sp.body_of(q) for q in qs], keep)
                self.attempted += s.n
                self.failed += s.failed
                steps.append(s)
                return s

            # the light and loaded steps alternate, step_reps times each;
            # each metric is the median over its repetitions
            c = sv["check_n"]
            lights, loadeds, cpu_ms = [], [], []
            for r in range(sv["step_reps"]):
                cpu0 = server.cpu_s()
                lights.append(step(f"light{r}", wl["light_qps"], self.light_qs[r], c))
                loadeds.append(step(f"loaded{r}", wl["loaded_qps"], self.loaded_qs[r], c))
                cpu_ms.append((server.cpu_s() - cpu0) * 1000.0
                              / (lights[-1].n + loadeds[-1].n))
            fixed = lights + loadeds
            self.m["serve_cpu_ms_per_query"] = statistics.median(cpu_ms)
            handler = sp.scrape(server)["quantiles"]
            for s, qs in zip(fixed, self.light_qs + self.loaded_qs):
                for i in range(min(c, s.n)):
                    if not self._served_ok(s, i, qs[i]):
                        self.wrong += 1
                        self.failed += 1
            # client-side latency and capacity swing with the host's CPU
            # steal, so they are per-layer figures, not bounded end-to-end
            lat = {}
            for name, reps in (("light", lights), ("loaded", loadeds)):
                lat[f"p50_ms.{name}"] = statistics.median(s.p50() for s in reps)
                lat[f"tail_ms.{name}"] = statistics.median(s.tail() for s in reps)
            if self.args.trace:
                lat["max_qps"] = self._max_qps(step, lights + loadeds)
            _log("steps: " + ", ".join(
                f"{s.name} n={s.n} p50={s.p50():.1f} tail={s.tail():.1f}" for s in steps))
            _log("client: " + ", ".join(f"{k}={v:.1f}" for k, v in lat.items()))

            self.m["rss_peak_mb"] = server.vm_hwm_mb()
            self.loaded_lat = [x for s in loadeds for x in s.lat]
            self.layer.update({f"query.http_server.{k}": v for k, v in lat.items()})
            self.layer.update({
                "query.http_server.ready_s": statistics.median(readies),
                "query.http_server.handler_ms.run_p50": handler.get("0.5", 0.0),
                "query.http_server.handler_ms.run_p99": handler.get("0.99", 0.0),
                "query.http_server.errors": sp.scrape(server)["errors"],
            })
            self.serve_measured_s = sum(s.n / s.rate for s in steps)
        finally:
            if server is not None:
                server.stop()
            os.sched_setaffinity(0, cpus)
        self.m["setup_s"] = statistics.median(setups)

    def _max_qps(self, step, fixed: list) -> float:
        """Doubling ladder above the best fixed rate that most of its
        repetitions met; stop at the first miss, then bisect
        geometrically."""
        sv = self.sv
        limit = sv["latency_limit_ms"]
        met: dict[float, list[bool]] = {}
        for s in fixed:
            met.setdefault(s.rate, []).append(s.passes(limit))
        best = max([r for r, ok in met.items() if 2 * sum(ok) > len(ok)], default=0.0)
        fail = None
        for k, rate in enumerate(sv["ladder_qps"]):
            if rate <= best:
                continue
            if self._rung(step, k, rate).passes(limit):
                best = rate
            else:
                fail = rate
                break
        if fail is not None and best > 0:
            for b in range(sv["bisect_steps"]):
                rate = round((best * fail) ** 0.5, 1)
                if self._rung(step, 100 + b, rate).passes(limit):
                    best = rate
                else:
                    fail = rate
        return best

    def _rung(self, step, k: int, rate: float):
        n = max(self.sv["ladder_min_n"], round(rate * self.sv["ladder_step_s"] * self.scale))
        return step(f"ladder{k}@{rate}", rate, self.pick(n))

    def _served_ok(self, s, i: int, q: dict) -> bool:
        if s.status[i] != 200:
            return True  # already counted as a failed request
        try:
            matches = json.loads(s.bodies[i])["matches"]
        except (KeyError, ValueError):
            return False
        got = [[m["doc_id"], m["score_fixed"]] for m in matches]
        if not _same_answer(got, self.expected[self.expect.query_key(q)]):
            return False
        return all(m.get("url") == self.urls.get(m["doc_id"]) for m in matches)

    # ------------------------------------------------------ traced extras
    def replay(self) -> None:
        """In-process replay of the light + loaded streams through
        `search` / `search_weighted` (no URLs), then `urls_for`."""
        import serve_phase as sp

        from meme_search_engine_spark.query.serve import LocalSearcher

        inits = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tr.span("query.serve.LocalSearcher"):
                s = LocalSearcher(self.index_dir)
            inits.append((time.perf_counter() - t0) * 1000.0)

        def call(q):
            if "query" in q:
                with self.tr.span("query.serve.search"):
                    return s.search(q["query"], 10)
            with self.tr.span("query.serve.search_weighted"):
                return s.search_weighted([(t, float(w)) for t, w in q["text"]], 10)

        for q in self.warm:
            call(q)
        search_ms, urls_ms = [], []
        for q in [q for qs in self.light_qs + self.loaded_qs for q in qs]:
            op = self.tr.new_op()
            with self.tr.span("bench.replay", op=op):
                t0 = time.perf_counter()
                res = call(q)
                t1 = time.perf_counter()
                with self.tr.span("query.serve.urls_for"):
                    s.urls_for([r["doc_id"] for r in res])
                t2 = time.perf_counter()
            search_ms.append((t1 - t0) * 1000.0)
            urls_ms.append((t2 - t1) * 1000.0)
        # the loaded requests' in-process work, to subtract from their
        # latency over HTTP
        n_light = sum(len(qs) for qs in self.light_qs)
        work_ms = [a + b for a, b in zip(search_ms[n_light:], urls_ms[n_light:])]
        tail = self.sv["tail_pct"]
        self.layer.update({
            "query.serve.searcher_init_ms": statistics.median(inits),
            "query.serve.search_ms.p50": statistics.median(search_ms),
            "query.serve.search_ms.tail": sp.pct(search_ms, tail),
            "query.serve.urls_for_ms.p50": statistics.median(urls_ms),
            "query.serve.urls_for_ms.tail": sp.pct(urls_ms, tail),
            "query.http_server.overhead_ms.p50": statistics.median(self.loaded_lat)
            - statistics.median(work_ms),
        })

    # ------------------------------------------------------------ result
    def result(self) -> dict:
        a = self.args
        self.m["ops_ok_share"] = 1.0 - self.failed / max(1, self.attempted)
        units = _units()
        if a.trace:
            wall = self.spark_measured_s + self.serve_measured_s
            self.layer["bench.trace_overhead_share"] = self.tr.bookkeeping_s / wall
            names = units["per_layer"]
            vals = self.layer
        else:
            names = units["end_to_end"]
            vals = self.m
        missing = [k for k in names if k not in vals]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": self.wrong == 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(vals[k]), "unit": u} for k, u in names.items()
            },
        }

    def save(self, res: dict) -> None:
        a = self.args
        tag = f"{a.workload}_s{a.seed}"
        if not a.trace:
            with open(os.path.join(self.out_dir, f"untraced_{tag}.json"), "w") as fh:
                json.dump(res, fh)
            return
        extra = {"workload": a.workload, "seed": a.seed, "metrics": res["metrics"],
                 "traced_end_to_end": self.m}
        ref = os.path.join(self.out_dir, f"untraced_{tag}.json")
        if os.path.exists(ref):
            with open(ref) as fh:
                base = json.load(fh)["metrics"]
            extra["traced_vs_untraced"] = {
                k: {"traced": v, "untraced": base[k]["value"]}
                for k, v in self.m.items() if k in base
            }
        self.tr.write(os.path.join(self.out_dir, f"trace_{tag}.json"), extra)


class InvalidRun(RuntimeError):
    """The load generator could not keep its schedule: the run measures
    the generator, not the server, and reports nothing."""


def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in b["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in b["per_layer"]},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = _load_spec()
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "meme_search_engine_spark")):
        print("meme_search_engine_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # a terminated run still stops its child processes (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, spec)
    try:
        run.prepare()
        run.ensure_serve_index()
        _log("inputs and serving index ready")
        if args.trace:
            run.spark_half()
            _log("spark half done")
        run.serve_half()
        _log("serve half done")
        if args.trace:
            run.replay()
            _log("replay done")
        res = run.result()
        run.save(res)
    except InvalidRun as e:
        print(f"invalid run: {e}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
