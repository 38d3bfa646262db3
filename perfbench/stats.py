"""Metric arithmetic over the harness's event log (see Harness.scala).

All times in the log are nanoseconds since harness start. Pass 0 is the
cold pass; later passes are warm. Spark jobs belong to an op by the job
group the harness set for it.
"""
import statistics

NS = 1e9
MS = 1e6
MB = 1e6
# candidate tail percentiles, in tenths of a percent
TAIL_CANDIDATES = [999, 990, 950, 900, 750, 500]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Linear-interpolated percentile `p` (0..100) of `xs`."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_pick(n):
    """The highest candidate percentile with at least 10 of `n` samples
    beyond it, or None when there are fewer than 20 samples."""
    for c in TAIL_CANDIDATES:
        if n * (1000 - c) >= 10 * 1000:
            return c / 10
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], optionally clipped
    to [lo, hi]; overlapping intervals (concurrent jobs) count once."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def failures(ops, checks):
    """(attempted, failed): every op counts once; an op fails when it threw
    or when the output check of its name failed."""
    bad = {c["name"] for c in checks if not c["ok"]}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    return len(ops), failed


class Run:
    """The events of one harness run, indexed."""

    def __init__(self, events):
        self.header = next(e for e in events if e["ev"] == "header")
        self.setups = [e for e in events if e["ev"] == "setup"]
        self.ops = [e for e in events if e["ev"] == "op"]
        self.passes = {e["pass"]: e for e in events if e["ev"] == "pass"}
        self.qes = [e for e in events if e["ev"] == "qe"]
        self.rules = {e["pass"]: e for e in events if e["ev"] == "rules"}
        self.loads = [e for e in events if e["ev"] == "load"]
        self.checks = [e for e in events if e["ev"] == "check"]
        self.dumps = [e for e in events if e["ev"] == "dump"]
        self.jobs_by_group = {}
        for j in (e for e in events if e["ev"] == "job"):
            self.jobs_by_group.setdefault(j["group"], []).append(j)

    def pass_ops(self, p):
        return [o for o in self.ops if o["pass"] == p]

    def wall(self, p):
        """Pass wall in ns, without the untimed output checks inside it."""
        e = self.passes[p]
        return e["t1"] - e["t0"] - sum(o["check_ns"] for o in self.pass_ops(p))

    def warm(self):
        return sorted(p for p in self.passes if p > 0)

    def op_jobs(self, o):
        return self.jobs_by_group.get(o["group"], [])

    def end_to_end(self, checks):
        warm = self.warm()
        lat = [(o["ta"] - o["t0"]) / NS for p in warm for o in self.pass_ops(p)]
        tail = tail_pick(len(lat)) or 50.0
        tail_s = percentile(lat, tail) if lat else 0.0
        attempted, failed = failures(self.ops, checks)
        peak = max((j["peak_b"] for p in warm for o in self.pass_ops(p)
                    for j in self.op_jobs(o)), default=0)
        metrics = {
            "setup_s": (median([(s["t1"] - s["t0"]) / NS for s in self.setups]), "s"),
            "cold_pass_s": (self.wall(0) / NS, "s"),
            "wall_s": (median([self.wall(p) / NS for p in warm]), "s"),
            "op_p50_s": (median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            "fail_ratio": (failed / attempted if attempted else 1.0, "ratio"),
            "mem_peak_mb": (peak / MB, "MB"),
        }
        info = {"warm_passes": len(warm),
                "warm_pass_walls_s": [round(self.wall(p) / NS, 4) for p in warm],
                "op_samples": len(lat),
                "op_tail_percentile": tail,
                "op_tail_samples_beyond": sum(1 for x in lat if x > tail_s)}
        return metrics, attempted, failed, info

    def pass_layers(self, p):
        """Per-layer sums over one traced pass."""
        ops = self.pass_ops(p)
        t0, t1 = self.passes[p]["t0"], self.passes[p]["t1"]
        jobs = [j for o in ops for j in self.op_jobs(o)]
        active = union_length([(j["t0"], j["t1"]) for j in jobs], t0, t1)
        wall = self.wall(p)

        def latency_ms(pick):
            return sum(o["ta"] - o["t0"] for o in ops if pick(o)) / MS

        def driver_only(o, a, b):
            """Time in span [o[a], o[b]] with none of the op's jobs running."""
            return (o[b] - o[a]) - union_length(
                [(j["t0"], j["t1"]) for j in self.op_jobs(o)], o[a], o[b])

        def construct_jobs(o):
            # job start times have millisecond resolution
            return [j for j in self.op_jobs(o) if o["t0"] <= j["t0"] < o["tc"] + MS]

        queries = [o for o in ops if o["kind"] == "query"]
        stream = [o for o in ops if o["kind"] in ("stream", "compact")]
        qes = [q for q in self.qes if t0 <= q["t"] <= t1]
        loads = [l for l in self.loads if l["pass"] == p]
        rules = self.rules.get(p, {})
        task_run = sum(j["task_run_ms"] for j in jobs)
        cpus = self.header["cpus"]
        spans = sum(o["r1"] - o["t0"] - o["check_ns"] for o in ops)
        return {
            "sources.load_ms": sum(l["t1"] - l["t0"] for l in loads) / MS,
            "sources.load_jobs": sum(len(self.jobs_by_group.get(l["group"], []))
                                     for l in loads),
            "queries.construct_ms": sum(o["tc"] - o["t0"] for o in queries) / MS,
            "queries.construct_jobs": sum(len(construct_jobs(o)) for o in queries),
            "queries.action_ms": sum(o["ta"] - o["tc"] for o in queries) / MS,
            "catalyst.analysis_ms": rules.get("analysis_ns", 0) / MS,
            "catalyst.opt_ms": rules.get("opt_ns", 0) / MS,
            "catalyst.plan_ms": sum(q["plan_ms"] for q in qes),
            "exec.jobs": len(jobs),
            "exec.job_active_ms": active / MS,
            "driver.only_ms": (wall - active) / MS,
            "exec.tasks": sum(j["tasks"] for j in jobs),
            "exec.task_run_ms": task_run,
            "exec.task_cpu_ms": sum(j["task_cpu_ns"] for j in jobs) / MS,
            "exec.util": task_run * MS / (active * cpus) if active else 0.0,
            "exec.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / MB,
            "exec.shuffle_read_mb": sum(j["shuffle_read_b"] for j in jobs) / MB,
            "exec.input_mb": sum(j["input_b"] for j in jobs) / MB,
            "exec.output_mb": sum(j["output_b"] for j in jobs) / MB,
            "exec.spill_mb": sum(j["spill_b"] for j in jobs) / MB,
            "exec.failed_tasks": sum(j["failed_tasks"] for j in jobs),
            "operators.ckpt.release_ms": sum(o["r1"] - o["r0"] for o in ops) / MS,
            "operators.ckpt.storage_mb": sum(o["storage_b"] for o in ops) / MB,
            "streaming.neardup_batch_ms": latency_ms(lambda o: o["name"] == "neardup_batch"),
            "streaming.text_batch_ms": latency_ms(lambda o: o["name"] == "text_batch"),
            "streaming.budget_batch_ms": latency_ms(lambda o: o["name"] == "budget_batch"),
            "streaming.compact_ms": latency_ms(lambda o: o["kind"] == "compact"),
            "streaming.commit_jobs": sum(len(self.op_jobs(o)) for o in stream),
            "pipeline.run_ms": latency_ms(lambda o: o["kind"] == "pipeline"),
            "pipeline.stages_executed": sum(o["stages"] for o in ops
                                            if o["kind"] == "pipeline"),
            "self.construct_ms": sum(driver_only(o, "t0", "tc") for o in ops) / MS,
            "self.action_ms": sum(driver_only(o, "tc", "ta") for o in ops) / MS,
            "trace.reconcile_pct": abs(spans - wall) * 100.0 / wall if wall else 0.0,
        }

    def per_layer(self):
        """Medians over the warm passes of a traced run; codegen over the
        cold pass, where it happens."""
        rows = [self.pass_layers(p) for p in self.warm()]
        out = {k: median([r[k] for r in rows]) for k in rows[0]}
        cold = self.pass_ops(0)
        out["codegen.compiles"] = sum(o["compiles"] for o in cold)
        out["codegen.compile_ms"] = sum(o["compile_ns"] for o in cold) / MS
        out["trace.wall_traced_s"] = median([self.wall(p) / NS for p in self.warm()])
        return out
