"""The measured run of one workload: set-up, verified warm-up, the timed
closed loop (untraced, then traced when asked), and the metric summary."""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import common
from w_interactive import Interactive
from w_shard import ShardDedupLoop

WORKLOADS = {w.name: w for w in (Interactive, ShardDedupLoop)}
# two task threads leave the rest of a 4-vCPU machine to the Python driver
# and the JVM's driver, JIT and GC threads
CORES = max(1, min(2, len(os.sched_getaffinity(0))))

END_TO_END = {
    "latency_p50_ms": "ms", "rows_per_s": "1/s", "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "plans.histogram.build_ms": "ms",
    "plans.histogram.py4j_calls": "count",
    "plans.histogram.build_jobs": "count",
    "plans.binned.build_ms": "ms",
    "plans.rollup.build_ms": "ms",
    "catalyst.plan_ms": "ms",
    "plans.result.algebra_ms": "ms",
    "plans.result.handoff_ms": "ms",
    "plans.result.py4j_calls": "count",
    "plans.stats.ms": "ms",
    "plans.stats.jobs": "count",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.failed_tasks": "count",
    "operators.curate.ms": "ms",
    "operators.curate.jobs": "count",
    "operators.dedup.build_ms": "ms",
    "operators.dedup.exec_ms": "ms",
    "operators.dedup.jobs": "count",
    "operators.dedup.index_extend_ms": "ms",
    "sources.corpus.read_ms": "ms",
    "sources.corpus.write_ms": "ms",
    "sources.corpus.bytes_written_per_input_byte": "frac",
    "jvm.gc_ms": "ms",
    "trace.op_ms": "ms",
    "trace.overhead_frac": "frac",
    "share.build_plan_frac": "frac",
    "share.exec_frac": "frac",
    "share.dedup_frac": "frac",
}

# share metric -> its per-op numerator; the base is the traced op time
SHARES = {
    "share.build_plan_frac": "_build_plan_ms",
    "share.exec_frac": "_exec_ms",
    "share.dedup_frac": "_dedup_ms",
}


def op_layers(spans: list) -> dict:
    """Per-layer numbers of ONE traced op, from its spans.  A layer the op
    never entered is absent (not 0), so per-op medians are taken over the
    ops that used the layer."""
    def pick(prefix, kind=None):
        return [s for s in spans if s.name.startswith(prefix)
                and (kind is None or s.kind == kind)]

    def dur(ss):
        return sum(common.dur_ms(s) for s in ss)

    def njobs(ss):
        return sum(len(s.jobs) for s in ss)

    out = {}
    (op,) = [s for s in spans if s.kind == "op"]
    op_ms = common.dur_ms(op)
    out["trace.op_ms"] = op_ms
    out["jvm.gc_ms"] = op.gc_ms
    out.update(op.notes)

    def put(name, ss, value):
        if ss:
            out[name] = value

    for mod in ("histogram", "binned", "rollup"):
        b = pick(f"plans.{mod}.", "build")
        put(f"plans.{mod}.build_ms", b, dur(b))
    b = pick("plans.histogram.", "build")
    put("plans.histogram.py4j_calls", b, sum(s.py4j for s in b))
    put("plans.histogram.build_jobs", b, njobs(b))
    p = pick("catalyst.plan")
    put("catalyst.plan_ms", p, dur(p))
    alg = pick("plans.result.", "build")
    put("plans.result.algebra_ms", alg, dur(alg))
    hand = pick("plans.result.", "exec")
    put("plans.result.handoff_ms", hand,
        sum(common.dur_ms(s) - common.job_ms([s]) for s in hand))
    res = pick("plans.result.")
    put("plans.result.py4j_calls", res, sum(s.py4j for s in res))
    st = pick("plans.stats.")
    put("plans.stats.ms", st, dur(st))
    put("plans.stats.jobs", st, njobs(st))
    ex = [s for s in spans if s.kind == "exec"]
    jobs = [j for s in ex for j in s.jobs]
    put("spark.exec_ms", ex, common.job_ms(ex))
    for key, attr in (("jobs", None), ("stages", "stages"),
                      ("tasks", "tasks"),
                      ("shuffle_write_bytes", "shuffle_write_bytes"),
                      ("failed_tasks", "failed_tasks")):
        put(f"spark.{key}", ex, len(jobs) if attr is None
            else sum(getattr(j, attr) for j in jobs))
    cur = pick("operators.curate.")
    put("operators.curate.ms", cur, dur(cur))
    put("operators.curate.jobs", cur, njobs(cur))
    db = pick("operators.dedup.incremental_dedup", "build")
    put("operators.dedup.build_ms", db, dur(db))
    de = pick("operators.dedup.", "exec")
    de = [s for s in de if s.name != "operators.dedup.extend_band_index"]
    put("operators.dedup.exec_ms", de, dur(de))
    dd = pick("operators.dedup.")
    put("operators.dedup.jobs", dd, njobs(dd))
    ext = pick("operators.dedup.extend_band_index")
    put("operators.dedup.index_extend_ms", ext, dur(ext))
    rd = pick("sources.corpus.read_jsonl_corpus")
    put("sources.corpus.read_ms", rd, dur(rd))
    wr = pick("sources.corpus.write_jsonl_corpus")
    put("sources.corpus.write_ms", wr, dur(wr))
    # numerators of the shares (see SHARES)
    out["_build_plan_ms"] = dur(pick("plans.", "build") + pick("catalyst.plan"))
    out["_exec_ms"] = common.job_ms(ex)
    out["_dedup_ms"] = dur(dd)
    return out


@dataclass
class Timed:
    """What one timed loop measured."""
    lat: list = field(default_factory=list)  # op latency, seconds
    ok: list = field(default_factory=list)  # checksum matched
    op_ids: list = field(default_factory=list)
    rows: int = 0


def start(wl, confs: dict, rss, phases: dict):
    """Start the session while the inputs are generated on a thread."""
    gen_error = []

    def generate():
        t = time.time()
        try:
            wl.generate()
        except BaseException as e:  # re-raised in the main thread
            gen_error.append(e)
        phases["generate_s"] = time.time() - t

    gen = threading.Thread(target=generate)
    gen.start()
    t = time.time()
    try:
        spark = common.start_session(confs)
        rss.jvm_pid = common.jvm_pid()
    finally:
        gen.join()
    phases["session_s"] = time.time() - t
    if gen_error:
        common.stop_session(spark)
        raise gen_error[0]
    return spark


def warm_up(wl, tr, order: list, warm_ms: dict, notes: dict,
            phases: dict) -> dict:
    """One untimed cycle of the op order that checks every distinct request
    against the reference.  The time spent computing the references is
    recorded as ``phases["reference_s"]``.  Returns the verified checksum
    per request (None when its check failed)."""
    verified, ref_s = {}, 0.0
    for i in order:
        req = wl.requests[i]
        t0 = time.time()
        try:
            got = wl.canon(req, wl.run(req, tr))
            t1 = time.time()
            try:
                exp = wl.expected(req)
            finally:
                ref_s += time.time() - t1
            ok = wl.check(req, got, exp)
        except Exception:  # a failing request is reported, not fatal
            traceback.print_exc(file=sys.stderr)
            got, ok = None, False
        verified[i] = common.checksum(got) if ok else None
        notes[wl.label(req)] = ok
        warm_ms[wl.label(req)] = (time.time() - t0) * 1e3
    phases["reference_s"] = ref_s
    wl.reset()
    return verified


def timed_loop(wl, tr, order: list, verified: dict, budget: float,
               traced: bool, op_ids, by_req: dict) -> Timed:
    """Whole cycles of the op order until ``budget`` seconds of op time
    have run; the untimed reset between cycles is not counted."""
    out = Timed()
    tr.set_traced(traced)
    while sum(out.lat) < budget:
        for i in order:
            req = wl.requests[i]
            op_id = next(op_ids)
            t0 = time.perf_counter()
            try:
                with tr.op(op_id):
                    res = wl.run(req, tr)
                dt = time.perf_counter() - t0
                ok = common.checksum(wl.canon(req, res)) == verified[i]
            except Exception:  # counted as a failed op
                dt = time.perf_counter() - t0
                traceback.print_exc(file=sys.stderr)
                ok = False
            out.lat.append(dt)
            out.ok.append(ok)
            out.op_ids.append(op_id)
            out.rows += wl.rows(req)
            if not traced:
                by_req.setdefault(wl.label(req), []).append(dt * 1e3)
        wl.reset()
    tr.set_traced(False)
    return out


def per_layer(tr, plain: Timed, traced: Timed, record: dict) -> dict:
    per_op = [op_layers([s for s in tr.spans if s.op_id == i])
              for i in traced.op_ids]
    layers = {name: common.median([x[name] for x in per_op if name in x])
              for name in PER_LAYER}
    # shares: summed over the traced ops, of their summed op time
    base = sum(x["trace.op_ms"] for x in per_op)
    for name, part in SHARES.items():
        layers[name] = sum(x[part] for x in per_op) / base
    record["share_base_ms"] = base
    layers["trace.overhead_frac"] = (
        float(np.median(traced.lat)) / float(np.median(plain.lat)) - 1.0)
    return layers


def write_spans(tr, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in tr.spans:
            d = dict(vars(s))
            d["jobs"] = [vars(j) for j in s.jobs]
            f.write(json.dumps(d) + "\n")


def run(args, root: str, work: str, t_start: float):
    load0 = common.loadavg()
    wl = WORKLOADS[args.workload](args.seed, args.scale, work)
    confs = common.spark_confs(work, CORES)
    phases, warm_ms, notes, by_req = {}, {}, {}, {}
    with common.RssSampler() as rss:
        spark = start(wl, confs, rss, phases)
        try:
            t = time.time()
            wl.load(spark)
            phases["load_s"] = time.time() - t
            tr = common.Tracer(spark)
            order = wl.order(args.seed)
            t = time.time()
            verified = warm_up(wl, tr, order, warm_ms, notes, phases)
            phases["warmup_verify_s"] = time.time() - t
            if args.corrupt_expected:
                verified[order[0]] = "0" * 24
            # the benchmark's own reference work is not the program's
            setup_s = time.time() - t_start - phases["reference_s"]

            op_ids, cpu0 = itertools.count(), common.cpu_ticks()
            budget = args.seconds / 2 if args.trace else args.seconds
            plain = timed_loop(wl, tr, order, verified, budget, False,
                               op_ids, by_req)
            traced = timed_loop(wl, tr, order, verified, budget, True,
                                op_ids, by_req) if args.trace else Timed()
            cpu = {k: v - cpu0[k] for k, v in common.cpu_ticks().items()}
        finally:
            common.stop_session(spark)
        rss.sample()

    attempted = len(plain.ok) + len(traced.ok)
    failed = attempted - sum(plain.ok) - sum(traced.ok)
    lat_ms = np.asarray(plain.lat) * 1e3
    p90 = float(np.percentile(lat_ms, 90))
    e2e = {
        "latency_p50_ms": float(np.median(lat_ms)),
        "rows_per_s": plain.rows / float(np.sum(plain.lat)),
        "peak_rss_mb": rss.peak_mb,
        "setup_s": setup_s,
    }
    record = {
        "record": "perfbench-run",
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "cores_used": CORES,
        "spark_master": confs["spark.master"], "spark_conf": confs,
        "git_commit": common.git_commit(root),
        "loadavg_start": load0, "loadavg_end": common.loadavg(),
        # machine CPU shares over the timed loops (steal: taken by the host)
        "cpu_busy_frac": cpu["busy"] / max(1, sum(cpu.values())),
        "cpu_steal_frac": cpu["steal"] / max(1, sum(cpu.values())),
        "samples": len(plain.lat), "traced_samples": len(traced.lat),
        "latency_p90_ms": p90,
        "samples_beyond_p90": int(np.sum(lat_ms > p90)),
        "error_rate": failed / attempted,
        "verified_requests": notes,
        "latency_ms_by_request": by_req,
        "warmup_ms_by_request": warm_ms,
        "setup_phases_s": phases,
        "end_to_end": e2e,
    }
    if args.trace:
        values, names = per_layer(tr, plain, traced, record), PER_LAYER
        record["per_layer"] = values
        write_spans(tr, os.path.join(
            root, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        values, names = e2e, END_TO_END
    result = {
        "correct": failed == 0 and all(notes.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in names.items()},
    }
    return record, result
