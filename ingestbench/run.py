"""Singer-target ingest benchmark.

    python3 ingestbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  Builds the target with the repository's own
sbt compile (skipped while the source hash matches the last build), then:

  --trace 0  launches `graft.Main` as users do (`tap | target`), times it
             from outside the process and prints the end-to-end metrics;
  --trace 1  runs the benchmark's harness JVM (`harness/`), which times the
             calls into each ingest module under a SparkListener and prints
             the per-layer metrics.

Every run checks the output against the generator's sidecar.  The last line
of stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Workload shapes.  Sizes are set so that one run of every workload fits the
# time the benchmark is given; see README.md for why each workload exists.
WORKLOADS = {
    "batch_flat": dict(mode="batch", records=20_000, state_every=200, config={}),
    "batch_nested": dict(mode="batch", records=4_000, state_every=40,
                         config={"add_metadata_columns": "true"}),
    "stream_bursts": dict(mode="stream", rate=1000, period_s=0.2, warm_s=20.0,
                          min_states=100, config={"infer_extra_fields": "false"}),
}
LAUNCH_TIMEOUT = 150  # seconds one target process may take

UNITS = {
    "setup_s": "s", "records_per_s": "1/s", "bookmark_lag_p50_s": "s",
    "bookmark_lag_p90_s": "s", "cpu_s_per_mrec": "s", "peak_rss_mb": "MB",
    "output_bytes_per_record": "B",
}


class Target:
    """One `graft.Main` process: stdout bookmarks stamped on arrival,
    CPU and peak RSS from wait4."""

    def __init__(self, env, work, mode, config, stdin):
        self.out = os.path.join(work, "out")
        shutil.rmtree(self.out, ignore_errors=True)
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(dict(config, temp_dir=env.tmp), f)
        self.log = open(os.path.join(work, "target.log"), "ab")
        self.bookmarks = []  # (arrival time, seq, value)
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            env.java("graft.Main", ["--config", cfg_path, "--output", self.out,
                                    "--mode", mode]),
            stdin=stdin, stdout=subprocess.PIPE, stderr=self.log, env=env.env)
        self.got = threading.Condition()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            t = time.perf_counter()
            try:
                value = json.loads(line)
            except ValueError:
                continue
            with self.got:
                self.bookmarks.append((t, value.get("seq"), value))
                self.got.notify_all()
        with self.got:
            self.got.notify_all()

    def wait_bookmark(self, seq, timeout):
        """Arrival time of the first bookmark covering `seq`, or None."""
        deadline = time.perf_counter() + timeout
        with self.got:
            while True:
                for t, s, _ in self.bookmarks:
                    if s is not None and s >= seq:
                        return t
                left = deadline - time.perf_counter()
                if left <= 0 or not self.reader.is_alive():
                    return None
                self.got.wait(min(left, 0.5))

    def cpu_so_far(self):
        """User+sys CPU seconds the running process has used."""
        with open("/proc/%d/stat" % self.proc.pid) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def finish(self, timeout=LAUNCH_TIMEOUT):
        """Wait for exit; returns (exit code, wall s, cpu s, peak RSS MB)."""
        deadline = self.t0 + timeout
        while True:
            pid, status, ru = os.wait4(self.proc.pid, os.WNOHANG)
            if pid:
                break
            if time.perf_counter() > deadline:
                self.proc.kill()
                pid, status, ru = os.wait4(self.proc.pid, 0)
                break
            time.sleep(0.01)
        wall = time.perf_counter() - self.t0
        self.proc.returncode = os.waitstatus_to_exitcode(status)
        self.reader.join()
        self.proc.stdout.close()
        self.log.close()
        return self.proc.returncode, wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0


def pct(xs, q):
    """q-th percentile (nearest rank) of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


# --- batch workloads ----------------------------------------------------------

def batch_sync(env, work, w, corpus, side):
    """One sync of a spooled corpus; every STATE in it is due at launch."""
    with open(corpus, "rb") as f:
        t = Target(env, work, "batch", w["config"], f)
        code, wall, cpu, rss = t.finish()
    last = t.bookmarks[-1][2] if t.bookmarks else None
    ok, why, rows, nbytes = check.check_batch(t.out, side, last)
    if code != 0:
        ok, why = False, "exit code %d" % code
    lag = (t.bookmarks[0][0] - t.t0) if t.bookmarks else None
    return dict(ok=ok, why=why, wall=wall, cpu=cpu, rss=rss, rows=rows,
                bytes=nbytes, lag=lag, records=side["records"])


def run_batch(env, work, name, w, seed, seconds):
    warm = os.path.join(work, "warmup.jsonl")
    gen.write_corpus(warm, *gen.warmup(name))
    corpus = os.path.join(work, "corpus.jsonl")
    lines, side = getattr(gen, name)(seed, w["records"], w["state_every"])
    gen.write_corpus(corpus, lines, side)
    n_states = sum(1 for ln in lines if ln.startswith('{"type":"STATE"'))

    # One set-up sample per run: a launch costs 12-19 s on 4 cores, and a
    # second one would push a run past the ~50 s it is sized for.
    setup = batch_sync(env, work, w, warm, gen.warmup(name)[1])
    # Syncs for `seconds`: another one starts only if it should end in time.
    syncs, t_start = [], time.perf_counter()
    while not syncs or (time.perf_counter() - t_start) * (1 + 1 / len(syncs)) <= seconds:
        syncs.append(batch_sync(env, work, w, corpus, side))
    report_failures([setup] + syncs)
    good = [s for s in syncs if s["ok"]] or syncs
    # Every STATE of a sync is due at launch and covered by its one bookmark,
    # so each sync contributes n_states equal lag samples.
    lags = [s["lag"] for s in good if s["lag"] is not None for _ in range(n_states)]
    metrics = {
        "setup_s": setup["lag"] or setup["wall"],
        "records_per_s": statistics.median(s["records"] / s["wall"] for s in good),
        "bookmark_lag_p50_s": pct(lags, 50) if lags else float("nan"),
        "bookmark_lag_p90_s": pct(lags, 90) if lags else float("nan"),
        "cpu_s_per_mrec": statistics.median(s["cpu"] / s["records"] * 1e6 for s in good),
        "peak_rss_mb": statistics.median(s["rss"] for s in good),
        "output_bytes_per_record": statistics.median(s["bytes"] / max(1, s["rows"]) for s in good),
    }
    ops = [setup] + syncs
    info = dict(syncs=len(syncs), states_per_sync=n_states, lag_samples=len(lags),
                sync_wall_s=[round(s["wall"], 3) for s in syncs])
    return metrics, len(ops), sum(not s["ok"] for s in ops), info


# --- stream workload ------------------------------------------------------------

def stream_session(env, work, w, seed, window_states):
    """One `--mode stream` process.  Sends the warm-up input and waits for
    its bookmark (set-up time); then, if `window_states`, feeds bursts open
    loop: burst k (records plus STATE seq=k) is due at t_base + k*period,
    the first `n_warm` bursts warm the target and are not counted."""
    period, per_burst = w["period_s"], int(round(w["rate"] * w["period_s"]))
    n_warm = int(round(w["warm_s"] / period)) if window_states else 0
    wl, _ = gen.warmup("stream_bursts")
    t = Target(env, work, "stream", w["config"], subprocess.PIPE)
    res = dict(setup=None, lags=[], late=[], ok=True, why="")
    try:
        t.proc.stdin.write(("\n".join(wl) + "\n").encode())
        t.proc.stdin.flush()
        t_setup = t.wait_bookmark(-1, LAUNCH_TIMEOUT)
        if t_setup is None:
            raise RuntimeError("no warm-up bookmark")
        res["setup"] = t_setup - t.t0
        cpu_setup = t.cpu_so_far()
        rng = random.Random(seed)
        warm_row = gen.flatten(json.loads(wl[1])["record"], gen.TICK_PROPS)
        want = {-1: (1, gen.row_hash(warm_row))}  # burst -> (rows, checksum)
        due, late = [], []
        t_base = time.perf_counter() + period
        next_id = 1
        for k in range(n_warm + window_states):
            d = t_base + k * period
            now = time.perf_counter()
            if now < d:
                time.sleep(d - now)
            lines, rows = gen.tick_burst(rng, next_id, k, per_burst)
            next_id += per_burst
            late.append(time.perf_counter() - d)
            t.proc.stdin.write(("\n".join(lines) + "\n").encode())
            t.proc.stdin.flush()
            due.append(d)
            want[k] = (len(rows), sum(map(gen.row_hash, rows)) % (1 << 64))
        t.proc.stdin.close()
        code, wall, cpu, rss = t.finish()
    except (RuntimeError, BrokenPipeError) as e:
        t.proc.kill()
        code, wall, cpu, rss = t.finish()
        res.update(ok=False, why=str(e))
        return res | dict(code=code, wall=wall, cpu=cpu, rss=rss, rows=0, bytes=0, states=1,
                          fed=0, cpu_fed=cpu, fed_s=float("nan"))

    got, nbytes, _ = check.summarize(t.out, group_col="burst")
    failed = 0
    n_states = 1 + len(due)
    for k in [-1] + list(range(len(due))):
        cover = t.wait_bookmark(k, 0)
        have = got.get(k)
        if cover is None or have is None or (have["rows"], have["checksum"]) != want[k]:
            failed += 1
        elif k >= n_warm:
            res["lags"].append(cover - due[k])
    last = t.bookmarks[-1][2] if t.bookmarks else None
    want_last = gen.state_value(len(due) - 1 if due else -1)["value"]
    if code != 0 or last != want_last:
        failed = n_states
        res.update(ok=False, why="exit code %d, last bookmark %r" % (code, last))
    elif failed:
        res.update(ok=False, why="%d of %d STATEs uncovered or missing rows" % (failed, n_states))
    # Throughput and CPU after set-up: records fed on schedule, from the
    # first burst's due time to the bookmark covering the last one.
    fed = per_burst * len(due)
    last_cover = t.wait_bookmark(len(due) - 1, 0) if due else None
    res.update(code=code, wall=wall, cpu=cpu, rss=rss, states=n_states, failed=failed,
               rows=sum(g["rows"] for g in got.values()), bytes=nbytes,
               late=late[n_warm:], fed=fed, cpu_fed=cpu - cpu_setup,
               fed_s=(last_cover - due[0]) if last_cover and due else float("nan"))
    return res


def run_stream(env, work, name, w, seed, seconds):
    window = max(w["min_states"], int(round(seconds / w["period_s"])))
    main = stream_session(env, work, w, seed, window)
    report_failures([main])
    lags = main["lags"] or [float("nan")]
    metrics = {
        "setup_s": main["setup"] if main["setup"] is not None else float("nan"),
        "records_per_s": main["fed"] / main["fed_s"],
        "bookmark_lag_p50_s": pct(lags, 50),
        "bookmark_lag_p90_s": pct(lags, 90),
        "cpu_s_per_mrec": main["cpu_fed"] / max(1, main["fed"]) * 1e6,
        "peak_rss_mb": main["rss"],
        "output_bytes_per_record": main["bytes"] / max(1, main["rows"]),
    }
    info = dict(window_states=window, lag_samples=len(main["lags"]),
                lags=[round(x, 3) for x in lags], **feeder_health(main["late"], main["lags"]))
    return metrics, main["states"], main.get("failed", main["states"]), info


def feeder_health(late, lags):
    """How late the feeder ran (p99), and the median lag of the window's last
    quarter minus its first (near 0: no growing backlog)."""
    q = len(lags) // 4
    return {"gen.late_p99_s": pct(late, 99) if late else float("nan"),
            "gen.lag_growth_s": statistics.median(lags[-q:]) - statistics.median(lags[:q])
            if q else float("nan")}


def report_failures(ops):
    for o in ops:
        if not o["ok"]:
            print("FAILED: %s" % o["why"], file=sys.stderr)


# --- traced run -------------------------------------------------------------------

def run_traced(env, work, name, w, seed, seconds):
    """Per-layer metrics from the harness JVM (local[nproc], then local[1]
    for the single-core baseline).  On the stream workload the feeder-health
    pair comes from one untraced feeder session; on batch corpora, which no
    schedule drives, from the harness feeding the corpus into the spooler."""
    corpus = os.path.join(work, "corpus.jsonl")
    health, attempted, failed = {}, 0, 0
    if w["mode"] == "stream":
        # The harness replays the stream workload's bursts as one corpus.
        n = max(w["min_states"], int(round(seconds / w["period_s"])))
        rng = random.Random(seed)
        per = int(round(w["rate"] * w["period_s"]))
        lines = [gen.tick_schema()]
        for k in range(n):
            lines += gen.tick_burst(rng, 1 + k * per, k, per)[0]
        with open(corpus, "w") as f:
            f.write("\n".join(lines) + "\n")
        s = stream_session(env, work, w, seed, n)
        report_failures([s])
        health = feeder_health(s["late"], s["lags"])
        attempted, failed = s["states"], s.get("failed", s["states"])
    else:
        lines, side = getattr(gen, name)(seed, w["records"], w["state_every"])
        gen.write_corpus(corpus, lines, side)

    cfg = os.path.join(work, "harness-config.json")
    with open(cfg, "w") as f:
        json.dump(dict(w["config"], temp_dir=env.tmp), f)
    layers = {}
    for cores in (env.nproc, 1):
        args = ["--workload", name, "--corpus", corpus, "--config", cfg,
                "--out", os.path.join(work, "harness-out-%d" % cores),
                "--cores", str(cores), "--spans", os.path.join(work, "spans-%d.jsonl" % cores)]
        if cores == 1:
            args += ["--only", "pipeline"]
        with open(os.path.join(work, "harness.log"), "ab") as log:
            res = subprocess.run(env.java("ingestbench.Trace", args, harness=True),
                                 stdout=subprocess.PIPE, stderr=log, env=env.env,
                                 timeout=LAUNCH_TIMEOUT)
        if res.returncode != 0:
            raise SystemExit("harness failed (exit %d), see %s" % (res.returncode, work))
        out = json.loads(res.stdout.decode().strip().splitlines()[-1])
        if cores == 1:
            layers["pipeline.run.wall_s_1core"] = out["pipeline.run.cold_wall_s"]
        else:
            layers.update(out)
        if w["mode"] == "batch":  # the harness's SingerPipeline.run output
            pipe_out = os.path.join(work, "harness-out-%d" % cores,
                                    "pipeline" if cores > 1 else "pipeline-cold")
            with open(pipe_out + ".state") as f:
                bookmark = json.loads(f.read() or "null")
            ok, why = check.check_batch(pipe_out, side, bookmark)[:2]
            attempted, failed = attempted + 1, failed + (not ok)
            report_failures([dict(ok=ok, why=why)])
    layers["pipeline.run.speedup_vs_1core"] = \
        layers["pipeline.run.wall_s_1core"] / layers["pipeline.run.cold_wall_s"]
    layers.update(health)
    return layers, attempted, failed, {}


# --- main -------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    env = build.ensure_built(root)  # exits non-zero when the sources are absent
    w = WORKLOADS[a.workload]
    work = os.path.join(env.work, "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    os.makedirs(work, exist_ok=True)
    launch = dict(env.launch, workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace)
    print("launch " + json.dumps(launch, sort_keys=True))

    try:
        if a.trace:
            metrics, attempted, failed, info = run_traced(env, work, a.workload, w, a.seed, a.seconds)
            units = {k: layer_unit(k) for k in metrics}
        else:
            runner = run_stream if w["mode"] == "stream" else run_batch
            metrics, attempted, failed, info = runner(env, work, a.workload, w, a.seed, a.seconds)
            units = UNITS
    finally:
        for d in ("out", "harness-out-1", "harness-out-%d" % env.nproc):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    print("info " + json.dumps(info, sort_keys=True))
    for k in sorted(metrics):
        print("%-44s %14.6g %s" % (k, metrics[k], units[k]))
    print("failed_frac %.4f (%d of %d)" % (failed / attempted, failed, attempted))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(dict(result, launch=launch, info=info), f, indent=1)
    print(json.dumps(result))


def layer_unit(name):
    for suffix, unit in (("speedup_vs_1core", "x"), ("_1core", "s"), ("_us", "us"),
                         ("_s", "s"), ("_bytes", "B"), ("_frac", "frac"),
                         ("amplification", "x"), ("core_util", "frac"), ("per_record", "us")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
