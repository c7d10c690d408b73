"""Host-weather-robust bench regression gate (VERDICT r12 item 1).

The driver's per-round ``BENCH_r{N}.json`` artifacts are produced on an
UNCONTROLLED host: round 12's artifact was uniformly ~1.36x slower than
round 11's (median per-query ratio across the 57-query common window)
purely from driver-run host load, while the builder's clean same-code
ledger sat at round-11 parity.  A raw per-query 3x bar against such a
pair trips on weather, not plans.  Two defenses, both mandated by the
round-12 verdict (and its explicit instruction: do NOT loosen the 3x
bar itself):

1. **Median normalization** — every per-query ratio is judged against
   ``3 x max(1, median_ratio)``: a uniformly loaded run raises every
   query together, so dividing out the battery-wide median isolates
   per-query pathology (the round-2 40x sketch-gate class) from
   whole-battery weather.  The median is clamped at 1 so a FASTER
   current run never tightens the bar below the raw 3x.
2. **Fresh-session re-probe** — any name still flagged after
   normalization is re-measured ISOLATED (``SPARK_GRAFT_BENCH_ONLY``,
   fresh interpreter, idle-as-possible host) and fails only if the
   isolated wall confirms the RAW bar.  The re-probe result is cached
   in ``BENCH_reprobe_gate.json`` keyed by the md5s of the two
   artifacts, so the suite stays fast (and deterministic) until the
   driver drops a new artifact pair.

The flagship metric keeps its tighter 2x bar, normalized the same way.

Round 14 (VERDICT r13 item 1 + ADVICE r13): the same gate now also runs
against the builder's own per-tier ledgers (``BENCH_sf{T}_noop_r{N}.json``
pairs) via the CLI at the bottom, so in-battery mover families are
attributed IN-ROUND instead of as next round's homework; the weather
median is CAPPED (an uncapped median would excuse a genuine uniform
whole-battery regression as "weather") with a sentinel re-probe of the
worst movers whenever the cap binds; artifact parsing is anchored to the
queries object so a tail artifact can't admit phantom entries; and a
query that crashed on SOME re-probe rep (bench.py's ``flaky`` list) is
treated as CONFIRMED, not silently green.

A crash the current artifact RECORDS (a ``-1`` wall) is a record of the
program that produced the artifact, which may no longer exist, so it is
judged like a recorded slowdown: re-probed fresh against the current
tree in the same cached, pinned run.  It fails (``failed``) only if the
fresh re-probe is ``-1.0`` (a crash, a crash on some rep, or a name gone
from the registry), is ``confirmed`` if it runs but exceeds the raw bar
against its previous wall, and clears otherwise.  A name with no
previous wall is judged on the crash alone.  The raw recorded list
stays in the report as ``failed_recorded``.
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import re
import statistics
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

# raw (un-normalized) bars — the contract since round 2 / round 4
QUERY_FACTOR = 3.0     # per-query regression factor
QUERY_FLOOR_S = 1.5    # ignore sub-1.5s walls (fixed-cost noise)
FLAGSHIP_FACTOR = 2.0  # flagship regression factor (VERDICT r4)
FLAGSHIP_FLOOR_S = 1.0
# Cap on the weather-median normalization (ADVICE r13, medium): an
# UNCAPPED median lets a genuine battery-wide regression (a session or
# config change slowing every query uniformly 4x) raise the "weather"
# factor by the same 4x and clear itself.  Host load measured on this
# driver has been ≤ ~1.4x (the r11→r12 pair); 2.0 leaves headroom above
# everything observed while any uniform slowdown beyond it must PROVE
# itself weather via the sentinel fresh-session re-probe below.
MEDIAN_CAP = 2.0
# When the raw median exceeds the cap, the worst N movers are re-probed
# fresh even if nothing exceeds the capped bar — they distinguish host
# weather (isolated walls at parity → clear) from a real whole-battery
# regression (isolated walls confirm the raw bar → fail).
SENTINEL_N = 3

# Keys that share the bench JSON line's top level with query timings —
# a front-truncated tail artifact that lost the '"queries": {' opener
# must never admit these as phantom "queries" (ADVICE r13: a flagged
# phantom name is unknown to the registry, re-probes to -1.0, and would
# spuriously CONFIRM).
NON_QUERY_KEYS = frozenset({
    "value", "sf", "n_queries", "naive_sf_cap", "flagship_synth_rows",
    "flagship_synth_sec", "flagship_rows_per_sec", "metric", "unit",
})

CACHE_NAME = "BENCH_reprobe_gate.json"
FLAGSHIP_KEY = "__flagship_synth__"  # cache slot for the flagship probe


def parse_artifact(path: pathlib.Path):
    """(sink_mode, per-query timings, flagship_sec, flaky) from a bench
    artifact — any of the three shapes the gate meets:

    - a full bench.py JSON line (the builder's committed tier ledgers),
    - the driver's ``{"parsed": {...}}`` wrapper,
    - the driver's ``{"tail": "..."}`` front-truncated form, where
      per-query times are recovered by scanning "name": seconds pairs
      inside the queries object.  The scan is ANCHORED to the
      '"queries": {' opener when it survived truncation, and known
      top-level numeric keys are dropped either way, so a tail that
      lost the opener can't admit phantom entries like the total wall
      (ADVICE r13).  bench.py >= r6 duplicates the sink mode AFTER the
      queries object precisely so truncation can't eat it (ADVICE r5).
    """
    doc = json.loads(path.read_text())
    if isinstance(doc.get("queries"), dict):  # full bench JSON (ledger)
        return (doc.get("sink_mode", doc.get("sink")), doc["queries"],
                doc.get("flagship_synth_sec"), doc.get("flaky", []))
    if isinstance(doc.get("parsed"), dict):
        p = doc["parsed"]
        return (p.get("sink_mode", p.get("sink")), p["queries"],
                p.get("flagship_synth_sec"), p.get("flaky", []))
    sink_m = (re.search(r'"sink_mode":\s*\\?"(\w+)', doc["tail"])
              or re.search(r'"sink":\s*\\?"(\w+)', doc["tail"]))
    fm = re.search(r'"flagship_synth_sec\\?":\s*(\d+(?:\.\d+)?)',
                   doc["tail"])
    fl = re.search(r'"flaky":\s*\[([^\]]*)\]', doc["tail"])
    flaky = re.findall(r'"([a-z0-9_]+)"', fl.group(1)) if fl else []
    tail = re.split(r'}, "(?:sink_mode|sf)":', doc["tail"])[0]
    opener = tail.find('"queries": {')
    if opener >= 0:
        tail = tail[opener + len('"queries": {'):]
    return (sink_m.group(1) if sink_m else None,
            {m.group(1): float(m.group(2)) for m in re.finditer(
                r'"([a-z0-9_]+)":\s*(-?\d+(?:\.\d+)?)', tail)
             if m.group(1) not in NON_QUERY_KEYS},
            float(fm.group(1)) if fm else None, flaky)


def weather_median(prev: dict, cur: dict) -> float:
    """Battery-wide median cur/prev ratio over the common names — the
    whole-run host-weather factor.  Clamped to >= 1.0 so a faster
    current run keeps the RAW bars (normalization only ever excuses
    uniform slowness, never tightens the gate).  Sub-0.1s entries are
    excluded from the median: their ratios are scheduling noise."""
    ratios = [cur[n] / prev[n] for n in prev.keys() & cur.keys()
              if prev[n] >= 0.1 and cur[n] > 0]
    return max(1.0, statistics.median(ratios)) if ratios else 1.0


def flag_queries(prev: dict, cur: dict, med: float) -> dict:
    """Names whose current wall exceeds the weather-normalized 3x bar
    (and the absolute floor): {name: (prev_s, cur_s)}."""
    return {
        n: (prev[n], cur[n])
        for n in prev.keys() & cur.keys()
        if prev[n] > 0
        and cur[n] > max(QUERY_FACTOR * med * prev[n], QUERY_FLOOR_S)
    }


def flagship_flagged(f_prev, f_cur, med: float) -> bool:
    return bool(
        f_prev and f_cur
        and f_cur > max(FLAGSHIP_FACTOR * med * f_prev, FLAGSHIP_FLOOR_S))


def _md5(path: pathlib.Path) -> str:
    return hashlib.md5(path.read_bytes()).hexdigest()


def cached_reprobe(prev_art: pathlib.Path, cur_art: pathlib.Path,
                   needed: set[str],
                   cache_path: pathlib.Path | None = None) -> dict | None:
    """The committed re-probe cache, iff it was produced against
    exactly these artifact bytes and covers every needed name."""
    cache = cache_path or REPO / CACHE_NAME
    if not cache.exists():
        return None
    try:
        doc = json.loads(cache.read_text())
    except json.JSONDecodeError:
        return None
    if (doc.get("prev_md5") != _md5(prev_art)
            or doc.get("cur_md5") != _md5(cur_art)):
        return None
    if not needed <= set(doc.get("isolated", {})):
        return None
    return doc


def run_reprobe(prev_art: pathlib.Path, cur_art: pathlib.Path,
                names: set[str], sink: str | None = None,
                sf_dir: str = "/root/testdata/sf0.1",
                cache_path: pathlib.Path | None = None,
                timeout: int = 1800) -> dict:
    """Measure the flagged and recorded-crashed names in a FRESH
    interpreter/JVM via bench.py's ``SPARK_GRAFT_BENCH_ONLY``, write
    the cache artifact, return it.  The protocol is PINNED to the artifact pair's, not the
    ambient environment (round-13 review): sink = the artifacts' own
    sink mode (evaluate already guaranteed both sides match; None — a
    pre-r6 truncated pair — replays the driver default, collect), tier
    = the driver's sf0.1 regardless of any SPARK_GRAFT_SF_DIR a prior
    tier run left exported.  bench.py always appends the flagship
    synth metric, so a flagged flagship rides along for free
    (``FLAGSHIP_KEY`` slot).  A name that no longer exists in the
    registry (renamed/removed since the artifact) cannot be
    re-measured: it is recorded as -1.0, which ``evaluate`` treats as
    CONFIRMED — a loud failure beats a silent clear, and the cache
    still covers the name so the suite doesn't re-spawn the probe
    every run."""
    run_names = sorted(names - {FLAGSHIP_KEY})
    if not run_names:
        # flagship-only probe still needs ONE registered name so the
        # ONLY filter stays a valid non-empty battery
        run_names = ["flagship_groupby_mean_std"]
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_ONLY=",".join(run_names),
        SPARK_GRAFT_SF_DIR=sf_dir,
        # best-of-3: a single isolated run charges cold-JVM/codegen
        # warm-up to the one query measured, which the in-battery
        # baseline amortized across hundreds of queries
        SPARK_GRAFT_BENCH_REPS="3",
    )
    env.pop("SPARK_GRAFT_BENCH_SINK", None)
    if sink:
        env["SPARK_GRAFT_BENCH_SINK"] = sink
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True, text=True, env=env, cwd=str(REPO),
        timeout=timeout)
    if out.returncode != 0:
        raise RuntimeError(
            f"re-probe bench failed rc={out.returncode}: "
            f"{out.stderr[-2000:]}")
    line = out.stdout.strip().splitlines()[-1]
    bench = json.loads(line)
    isolated = {n: bench["queries"].get(n, -1.0) for n in run_names}
    # a name that crashed on SOME rep (succeeded on others) is flaky
    # under repetition — surface it as a confirming -1.0, never as the
    # surviving wall (ADVICE r13, bench.py's 'flaky' list)
    for n in bench.get("flaky", []):
        if n in isolated:
            isolated[n] = -1.0
    isolated[FLAGSHIP_KEY] = bench["flagship_synth_sec"]
    doc = {
        "what": ("fresh-session isolated re-probe of bench-gate flagged "
                 "names (VERDICT r12 item 1): names that exceed the "
                 "weather-normalized bar between the two driver "
                 "artifacts, and names the current artifact recorded "
                 "as crashed, are re-measured in an idle fresh JVM and "
                 "judged against the RAW bars; cache is keyed on the "
                 "artifact bytes so a new driver round invalidates it"),
        "prev_art": prev_art.name,
        "cur_art": cur_art.name,
        "prev_md5": _md5(prev_art),
        "cur_md5": _md5(cur_art),
        "sf_dir": sf_dir,
        "isolated": isolated,
    }
    (cache_path or REPO / CACHE_NAME).write_text(json.dumps(doc) + "\n")
    return doc


def sentinel_movers(prev: dict, cur: dict, n: int = SENTINEL_N) -> dict:
    """The ``n`` worst current-vs-previous movers with a meaningful
    current wall — the fresh-session sentinels that adjudicate a
    median above MEDIAN_CAP: {name: (prev_s, cur_s)}."""
    movers = [(cur[k] / prev[k], k) for k in prev.keys() & cur.keys()
              if prev[k] >= 0.1 and cur[k] > QUERY_FLOOR_S]
    return {k: (prev[k], cur[k])
            for _, k in sorted(movers, reverse=True)[:n]}


def evaluate(prev_art: pathlib.Path, cur_art: pathlib.Path,
             reprobe=run_reprobe,
             cache_path: pathlib.Path | None = None) -> dict:
    """Full gate: returns a report dict; ``confirmed`` non-empty means
    a REAL (isolated-confirmed) regression, ``failed`` non-empty a
    query that still crashes fresh.  Flagged names (past the weather-
    normalized bar), sentinels (median past the cap) and recorded
    crashes (``failed_recorded``: a ``-1`` wall in the current
    artifact) are all re-probed fresh in one run; a recorded crash
    lands in ``failed`` if it re-probes to ``-1.0``, in ``confirmed``
    if it runs past the raw bar against its previous wall, and clears
    otherwise.  ``reprobe`` is injectable for unit tests."""
    prev_sink, prev, f_prev, _ = parse_artifact(prev_art)
    cur_sink, cur, f_cur, cur_flaky = parse_artifact(cur_art)
    report: dict = {"sink": (prev_sink, cur_sink), "confirmed": {},
                    "flagged": {}, "median": None, "skip": None,
                    "flaky": list(cur_flaky), "failed": []}
    # collect-sink vs noop-sink rounds are not comparable; when exactly
    # one side is unrecoverable, skip rather than guess (ADVICE r5)
    if (prev_sink is None) != (cur_sink is None):
        report["skip"] = "sink mode unrecoverable for one artifact"
        return report
    if prev_sink != cur_sink:
        report["skip"] = f"sink mismatch: {prev_sink!r} vs {cur_sink!r}"
        return report
    med_raw = weather_median(prev, cur)
    # the normalization is CAPPED (ADVICE r13): beyond the cap a
    # uniform slowdown stops being excusable as weather and the worst
    # movers must prove themselves fresh — flag_queries judges against
    # the capped factor, and the sentinel set below forces a re-probe
    # even if the capped bar alone flags nothing
    med = min(med_raw, MEDIAN_CAP)
    report["median"] = med
    report["median_raw"] = med_raw
    flagged = flag_queries(prev, cur, med)
    sentinels: dict = {}
    if med_raw > MEDIAN_CAP:
        sentinels = {k: v for k, v in sentinel_movers(prev, cur).items()
                     if k not in flagged}
    report["flagged"] = dict(flagged)
    report["sentinels"] = dict(sentinels)
    fs_flag = flagship_flagged(f_prev, f_cur, med)
    report["flagship_flagged"] = fs_flag
    # a recorded crash is a record of the program that wrote the
    # artifact, not of this tree: it joins the fresh re-probe set
    recorded = [n for n, t in cur.items() if t < 0]
    report["failed_recorded"] = recorded
    probe_prev = {**{n: t[0] for n, t in sentinels.items()},
                  **{n: t[0] for n, t in flagged.items()}}
    need = (set(probe_prev) | set(recorded)
            | ({FLAGSHIP_KEY} if fs_flag else set()))
    if not need:
        return report
    cache = cached_reprobe(prev_art, cur_art, need, cache_path) or reprobe(
        prev_art, cur_art, need, sink=cur_sink)
    iso = cache["isolated"]
    # a recorded crash fails only if it crashes fresh; one that runs is
    # held to the raw bar against its previous wall, when it has one
    report["failed"] = [n for n in recorded if iso[n] < 0]
    probe_prev.update({n: prev[n] for n in recorded
                       if iso[n] >= 0 and prev.get(n, -1.0) > 0})
    # a flagged name whose isolated re-probe FAILED (-1.0: the query
    # crashed fresh, crashed on SOME rep, or was renamed out of the
    # registry) must CONFIRM, not silently clear (round-13 review) —
    # the inline gate always failed on a -1.0 artifact entry and the
    # re-probe path keeps that.  Sentinels are judged against the same
    # RAW bars: an isolated sentinel past 3x its previous wall is a
    # real whole-battery-scale regression, not weather.
    confirmed = {
        n: (probe_prev[n], iso[n])
        for n in probe_prev
        if iso[n] < 0
        or iso[n] > max(QUERY_FACTOR * probe_prev[n], QUERY_FLOOR_S)
    }
    if fs_flag and iso[FLAGSHIP_KEY] > max(
            FLAGSHIP_FACTOR * f_prev, FLAGSHIP_FLOOR_S):
        confirmed[FLAGSHIP_KEY] = (f_prev, iso[FLAGSHIP_KEY])
    report["isolated"] = iso
    report["confirmed"] = confirmed
    return report


def main(argv: list[str]) -> int:
    """CLI for the per-tier ledger gate (VERDICT r13 item 1): compare
    two committed builder ledgers (full bench.py JSON), re-probe any
    flagged/sentinel/recorded-crashed name fresh at the LEDGER's own
    tier, and write the verdict artifact — so in-battery mover families
    are attributed in the same round that produced them.  A recorded
    crash that crashes fresh too is ``CONFIRMED_FAILURE`` and exits 1;
    a name the current ledger lists as ``flaky`` (crashed on some rep)
    is ``FLAKY`` and exits 1.

        python tools/bench_gate.py PREV.json CUR.json \\
            --sf-dir /root/repo/.localdata/sf1 \\
            --out BENCH_gate_sf1_r14.json [--timeout 7200]
    """
    import argparse
    import functools

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("prev", type=pathlib.Path)
    ap.add_argument("cur", type=pathlib.Path)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", type=pathlib.Path, default=None)
    ap.add_argument("--timeout", type=int, default=7200)
    args = ap.parse_args(argv)
    cache = (args.out.with_name(args.out.name + ".reprobe")
             if args.out else None)
    reprobe = functools.partial(run_reprobe, sf_dir=args.sf_dir,
                                cache_path=cache, timeout=args.timeout)
    report = evaluate(args.prev, args.cur, reprobe=reprobe,
                      cache_path=cache)
    report["prev_art"] = args.prev.name
    report["cur_art"] = args.cur.name
    report["sf_dir"] = args.sf_dir
    report["verdict"] = (
        "CONFIRMED_FAILURE" if report["failed"]
        else "CONFIRMED_REGRESSION" if report["confirmed"]
        else "FLAKY" if report["flaky"]
        else "SKIP" if report["skip"]
        else "WEATHER_ATTRIBUTED" if (report["flagged"]
                                      or report.get("sentinels"))
        else "GREEN")
    text = json.dumps(report, indent=1, sort_keys=True)
    if args.out:
        args.out.write_text(text + "\n")
    print(text)
    return 1 if (report["failed"] or report["confirmed"]
                 or report["flaky"]) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
