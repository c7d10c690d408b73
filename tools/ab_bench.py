"""Paired A/B cross-round benchmark (VERDICT r10 item 4): time the
same registered queries under TWO checkouts of this repo — the current
working tree vs a baseline git rev — interleaved A,B,B,A per query in
one sitting, so round-over-round comparisons rest on measured pairs
instead of host-weather footnotes. Each side is a long-lived worker
subprocess owning its own Spark local JVM; the driver serializes the
timed runs (never two queries at once) and alternates sides, so a load
spike hits both sides of a pair or neither.

Usage:
  python tools/ab_bench.py --baseline <git-rev> [--sf-dir DIR]
      [--queries a,b,c | --worst N [--cur-file F --base-file F]]
      [--reps 2] [--out FILE]
      [--env-current K=V[,K=V]] [--env-baseline K=V[,K=V]]

--worst N (default 20) picks the N worst current/baseline ratio names
from two committed battery ledgers (default the sf0.1 r10-vs-r9 pair;
--cur-file/--base-file point it at any other pair, e.g. the sf10
ledgers). --env-current/--env-baseline add per-side environment (e.g.
SPARK_GRAFT_DRIVER_MEM=90g on ONE side to isolate a heap-config axis
with identical code on both sides: --baseline HEAD).
Output: one JSON object (BENCH_ab artifact) with per-query wall lists,
medians and IQRs for both sides, best-of ratios, and the interleave
order. Each side runs each query once, untimed, before its timed reps,
so no rep pays the query's first-run code generation. A worker
that dies mid-sweep is restarted ONCE (fresh JVM, re-warmed off the
clock); if it dies again the remaining one-sided rows are flagged via
top-level aborted_sides/n_missing_ratios so a degraded sweep can't
pass for a full one (ADVICE r11), and the tool exits 1.
Unless SPARK_GRAFT_DRIVER_MEM is set, each worker's JVM heap is a
quarter of host RAM (1-16 g), so the two together fit the host.
The baseline checkout is <tmp>/ab_baseline_<rev> (<tmp> is Python's
tempfile directory, i.e. $TMPDIR or /tmp). An existing directory there
is reused only if its HEAD is the baseline commit; otherwise it is added
as a git worktree and removed again when the sweep ends.
(CPU-exclusive — timed; run alone like bench.py)
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_WORKER_SRC = '''
import json, os, sys, time
repo, sf_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from dask_lambda_example_spark.registry import spark_queries
from dask_lambda_example_spark.session import get_spark
spark = get_spark("ab-bench")
qs = spark_queries()
# warm the JVM + parquet footer caches off the clock, and start the
# Python worker so the first Python-worker query does not pay for it
qs["flagship_groupby_mean_std"](spark, sf_dir).write.format("noop") \\
    .mode("overwrite").save()
spark.range(4).mapInPandas(lambda it: it, "id long").collect()
print(json.dumps({"ready": True, "n_queries": len(qs)}), flush=True)
for line in sys.stdin:
    name = line.strip()
    if not name:
        continue
    if name == "EXIT":
        break
    if name not in qs:
        print(json.dumps({"name": name, "error": "unregistered"}),
              flush=True)
        continue
    t0 = time.time()
    try:
        qs[name](spark, sf_dir).write.format("noop") \\
            .mode("overwrite").save()
        print(json.dumps({"name": name,
                          "wall": round(time.time() - t0, 4)}), flush=True)
    except Exception as ex:  # noqa: BLE001 — report, keep serving
        print(json.dumps({"name": name, "error": str(ex)[:300]}),
              flush=True)
'''


def _arg(flag: str, default: str | None = None) -> str | None:
    return (sys.argv[sys.argv.index(flag) + 1]
            if flag in sys.argv else default)


def _worst_common_names(n: int, cur_file: str, base_file: str) -> list[str]:
    cur = json.load(open(REPO / cur_file))["queries"]
    base = json.load(open(REPO / base_file))["queries"]
    common = [k for k in cur if k in base and cur[k] > 0 and base[k] > 0]
    common.sort(key=lambda k: cur[k] / base[k], reverse=True)
    return common[:n]


def worker_heap_gib(ram_gib: float) -> int:
    """Heap for each of the two worker JVMs: a quarter of host RAM, as
    perfbench's host fit sizes its one JVM, at least 1 g and at most
    session.py's 16 g default — both workers together stay within
    half the host."""
    return max(1, min(16, int(ram_gib // 4)))


def _log_path(tag: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"ab_bench_{tag}.stderr")


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", *args], capture_output=True, text=True)


@contextlib.contextmanager
def sweep_files(repo: Path, rev: str, base_dir: Path):
    """Yield the worker script's path with ``base_dir`` a checkout of
    the full commit hash ``rev``. An existing ``base_dir`` is reused
    only if its HEAD is ``rev`` (RuntimeError otherwise); a missing one
    is added as a worktree of ``repo``. On exit the script is deleted,
    and so is the worktree if this call added it."""
    if base_dir.exists():
        head = _git("-C", str(base_dir), "rev-parse", "HEAD").stdout.strip()
        if head != rev:
            raise RuntimeError(
                f"{base_dir} exists but its HEAD is {head or 'unreadable'}, "
                f"not the baseline {rev}; remove it and rerun")
        added = False
    else:
        subprocess.run(["git", "-C", str(repo), "worktree", "add",
                        "--detach", str(base_dir), rev], check=True)
        added = True
    with tempfile.NamedTemporaryFile(
            "w", suffix="_ab_worker.py", delete=False) as f:
        f.write(_WORKER_SRC)
    try:
        yield f.name
    finally:
        os.unlink(f.name)
        if added:
            subprocess.run(["git", "-C", str(repo), "worktree", "remove",
                            "--force", str(base_dir)], check=True)


def _parse_env(spec: str | None) -> dict[str, str]:
    if not spec:
        return {}
    # a typo'd entry ('KEY:VALUE') silently dropped would turn an
    # intended heap-axis A/B into a same-config comparison, detectable
    # only by reading env_current/env_baseline in the artifact — fail
    # loudly instead (round-12 review)
    bad = [kv for kv in spec.split(",") if kv and "=" not in kv]
    if bad:
        raise ValueError(f"--env-* entries without '=': {bad}")
    return dict(kv.split("=", 1) for kv in spec.split(",") if kv)


class _Worker:
    def __init__(self, tag: str, repo: str, sf_dir: str,
                 worker_py: str, extra_env: dict[str, str] | None = None,
                 ) -> None:
        self.tag = tag
        self.repo = repo
        self.sf_dir = sf_dir
        self.worker_py = worker_py
        self.extra_env = dict(extra_env or {})
        self.restarts = 0
        # query name the restart happened before — rows from there on
        # pair a fresh JVM against a session-warm one, the exact
        # asymmetry the fresh-pairs protocol exists to isolate; the
        # artifact must say where that regime starts (round-12 review)
        self.restarted_before: str | None = None
        self.proc = None
        self.log = None
        self._spawn()

    def _spawn(self) -> None:
        if self.proc is not None:
            # reap the dead worker (and kill the rare EOF-but-alive
            # one) before its replacement competes for the same cores
            try:
                self.proc.kill()
            except Exception:  # noqa: BLE001
                pass
            self.proc.wait(timeout=30)
        if self.log is not None:
            self.log.close()
        self.log = open(_log_path(self.tag), "a")
        env = dict(os.environ, **self.extra_env)
        self.proc = subprocess.Popen(
            [sys.executable, self.worker_py, self.repo, self.sf_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, cwd=self.repo, env=env)
        ready = json.loads(self.proc.stdout.readline())
        assert ready.get("ready"), ready
        self.n_queries = ready["n_queries"]

    def run(self, name: str) -> dict:
        # a dead worker (JVM OOM, startup failure) yields EOF on the
        # reply pipe; restart it ONCE (fresh JVM, warm-up re-run off
        # the clock) so one crash doesn't degrade the whole remaining
        # sweep to one-sided timings (ADVICE r11); a second death is
        # recorded per-row and surfaced in the summary doc
        for attempt in (0, 1):
            pipe_err = ""
            try:
                self.proc.stdin.write(name + "\n")
                self.proc.stdin.flush()
                line = self.proc.stdout.readline()
            except (BrokenPipeError, OSError) as ex:
                line = ""
                pipe_err = f"; pipe: {ex}"
            if line:
                # a worker dying MID-write emits a truncated JSON line;
                # crashing the sweep here would lose every accumulated
                # pair — treat it exactly like an EOF (restart once,
                # else a per-row error) (round-12 review)
                try:
                    return json.loads(line)
                except json.JSONDecodeError as ex:
                    pipe_err = f"; truncated reply: {ex}"
                    line = ""
            rc = self.proc.poll()
            if attempt == 0 and self.restarts == 0:
                self.restarts += 1
                self.restarted_before = name
                print(f"AB WARN {self.tag} worker died (exit={rc}"
                      f"{pipe_err}); restarting once",
                      file=sys.stderr, flush=True)
                try:
                    self._spawn()
                    continue
                except Exception as ex:  # noqa: BLE001
                    return {"name": name,
                            "error": f"worker restart failed: {ex}"}
            return {"name": name,
                    "error": (f"worker died (exit={rc}{pipe_err}); see "
                              f"{_log_path(self.tag)}")}
        return {"name": name, "error": "unreachable"}

    def close(self) -> None:
        try:
            self.proc.stdin.write("EXIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            self.proc.kill()
        self.log.close()


def _median_iqr(walls: list[float]) -> tuple[float, float]:
    if len(walls) < 2:
        return round(walls[0], 4), 0.0
    q1, q2, q3 = statistics.quantiles(walls, n=4)
    return round(q2, 4), round(q3 - q1, 4)


def pair_query(name: str, order: list, reps: int) -> dict:
    """One query's paired record over the two workers in ``order``.

    Each worker first runs ``name`` once off the clock: a query's first
    run in a JVM pays its code generation and other cold costs, which
    would otherwise land in one rep per side and widen that side's
    IQR. Then ``reps`` timed runs per side, A,B,B,A per rep-pair, so
    any monotone host drift cancels. The record holds each side's
    walls, median and IQR, and the best-of ratio current/baseline."""
    walls: dict[str, list] = {"current": [], "baseline": []}
    errors: list[str] = []
    for w in order:
        r = w.run(name)
        if "wall" not in r:
            errors.append(f"{w.tag} (untimed first run): {r.get('error')}")
    order = list(order)
    for _ in range(reps):
        for w in order:
            r = w.run(name)
            if "wall" in r:
                walls[w.tag].append(r["wall"])
            else:
                errors.append(f"{w.tag}: {r.get('error')}")
        order.reverse()
    rec: dict = {"current": walls["current"], "baseline": walls["baseline"]}
    if walls["current"] and walls["baseline"]:
        rec["best_ratio"] = round(
            min(walls["current"]) / min(walls["baseline"]), 3)
        spread = {side: _median_iqr(w) for side, w in walls.items()}
        rec["median"] = {side: m for side, (m, _) in spread.items()}
        rec["iqr"] = {side: q for side, (_, q) in spread.items()}
    if errors:
        rec["errors"] = errors
    return rec


def main() -> int:
    baseline = _arg("--baseline")
    assert baseline, "--baseline <git-rev> is required"
    sf_dir = _arg("--sf-dir", "/root/testdata/sf0.1")
    reps = int(_arg("--reps", "2"))
    out = _arg("--out")
    names_arg = _arg("--queries")
    names = (names_arg.split(",") if names_arg
             else _worst_common_names(
                 int(_arg("--worst", "20")),
                 _arg("--cur-file", "BENCH_sf0.1_noop_r10.json"),
                 _arg("--base-file", "BENCH_sf0.1_noop_r9.json")))
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        ram_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                   / 2**30)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{worker_heap_gib(ram_gib)}g"
    env_cur = _parse_env(_arg("--env-current"))
    env_base = _parse_env(_arg("--env-baseline"))

    full = _git("-C", str(REPO), "rev-parse", "--verify",
                f"{baseline}^{{commit}}").stdout.strip()
    assert full, f"--baseline {baseline} is not a commit"
    rev = _git("-C", str(REPO), "rev-parse", "--short", full).stdout.strip()
    base_dir = Path(tempfile.gettempdir()) / f"ab_baseline_{rev}"

    with sweep_files(REPO, full, base_dir) as worker_py:
        a = _Worker("current", str(REPO), sf_dir, worker_py, env_cur)
        b = _Worker("baseline", str(base_dir), sf_dir, worker_py, env_base)
        results: dict[str, dict] = {}
        try:
            for name in names:
                order = [a, b] if len(results) % 2 == 0 else [b, a]
                rec = results[name] = pair_query(name, order, reps)
                print(json.dumps({name: rec}), file=sys.stderr, flush=True)
        finally:
            # dead/exhausted state must be read BEFORE close() reaps the
            # processes, or a crashed side would look identical to a clean
            # exit in the summary doc
            dead_sides = sorted(
                w.tag for w in (a, b) if w.proc.poll() is not None)
            a.close()
            b.close()

    ratios = sorted(r["best_ratio"] for r in results.values()
                    if "best_ratio" in r)
    # a partially dead session must be distinguishable from a full
    # sweep (ADVICE r11): flag missing pairs and any side whose walls
    # stopped landing, so median_best_ratio over a shrunken subset
    # can't silently pass for the full comparison
    missing = sorted(n for n, r in results.items() if "best_ratio" not in r)
    doc = {
        "audit": "ab_bench",
        "baseline_rev": rev,
        "sf_dir": sf_dir,
        "reps_per_side": reps,
        "interleave": "A,B,B,A per rep-pair, sides alternate per query",
        "timing": "best-of per side (min over reps)",
        "first_run": "each side runs each query once, untimed, before "
                     "its timed reps",
        "env_current": env_cur or None,
        "env_baseline": env_base or None,
        "worker_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "worker_restarts": {"current": a.restarts, "baseline": b.restarts},
        # rows from this query onward pair a restarted (fresh) JVM
        # against a session-warm one — cross-side state asymmetry;
        # null = no restart on that side
        "restarted_before_query": {"current": a.restarted_before,
                                   "baseline": b.restarted_before},
        "n_missing_ratios": len(missing),
        "missing_ratio_queries": missing,
        "aborted_sides": dead_sides,
        "median_best_ratio": (ratios[len(ratios) // 2] if ratios else None),
        "queries": results,
    }
    line = json.dumps(doc)
    if out:
        Path(out).write_text(line + "\n")
    print(line)
    if missing or dead_sides:
        print(f"AB FAIL {len(missing)} queries without a ratio, aborted "
              f"sides {dead_sides}", file=sys.stderr, flush=True)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
