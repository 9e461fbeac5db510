#!/usr/bin/env python3
"""Triage two Bench JSON artifacts: real regression vs box load.

Usage:
  python3 tools/bench_triage.py <old.json|log> <new.json|log> [threshold]
  python3 tools/bench_triage.py <new.json|log>          # vs the idle anchor
  python3 tools/bench_triage.py --calibrate <a> <b>     # derive the floors
  python3 tools/bench_triage.py --selftest              # pin the tool itself

With a single artifact, the OLD side defaults to BENCH_idle_anchor.json
next to this script's repo root — a full idle-box run committed so a new
driver artifact classifies against known-good numbers with zero manual
re-runs.

For each query, compare the min-wall seconds (the headline) and — when
both artifacts carry it (round 19+) — the executor-CPU seconds for the
min-wall rep (`queries_cpu`). A query is flagged when its wall grew
past the threshold (default 1.5x + 50 ms) OR its cpu grew past the cpu
floor (>= 250 ms AND >= 1.2x) — the cpu gate fires INDEPENDENTLY of the
wall gate (ADVICE r20: a real regression whose wall grows only ~1.3x on
an idle box must not triage clean just because the wall spike never
reached 1.5x). Classification per flagged query:

  REGRESSION  cpu up (>= 250 ms AND >= 1.2x) -> the work itself grew,
                                                whatever the wall did
  LOAD?       wall up, cpu within wobble     -> box load (or a
                                                driver-side regression:
                                                re-run idle before
                                                dismissing)
  WALL-ONLY   wall up, no cpu in an          -> older artifact; judge by
              artifact                          an idle re-run

The CPU criterion is deliberately looser than the wall ratio: executor
CPU is the load-immune signal, so ANY growth past measured wobble is
suspicious — it does not need the 1.5x a wall spike needs (and, per the
above, does not need a wall spike at all).

Single-artifact (anchor) mode refuses a new artifact whose `sf` differs
from the anchor's: an sf0.01 run compared against the sf0.1 anchor reads
as uniformly improved and would triage clean over masked regressions.
(Two-artifact mode only warns — cross-sf compares can be deliberate.)
`BENCH_TRIAGE_ANCHOR` overrides the anchor path (selftest hook).

A query that FAILED in the new artifact (sentinel -1) is reported as
FAILED and counts as a regression — a crash must never read as a clean
pass here any more than in the bench output itself. When truncation
hides per-query identity, the surviving `total_tail` line's `n_failed`
is checked instead, so a suspects-only artifact of a crashed run still
exits 1.

Inputs: bench stdout (raw or sbt-prefixed "[info] {...}" lines), a
driver artifact {"tail": "<truncated stdout>"}, or a raw truncated log.
Salvage order per artifact: the full "total" line; intact labeled maps;
the intact SUFFIX of a torn map (the driver's ~2k tail usually starts
mid-map — the first broken entry is dropped and the rest recovered,
with the map identified by what follows its closing brace); finally the
compact `load_suspects` line. Torn/suspects coverage is reported as
PARTIAL.

Floor calibration recipe (re-derive when the box changes): run the same
code twice on an idle box (`sbt -batch "runMain graft.Bench" | tee
runN.json`), then `--calibrate run1.json run2.json` prints the max
per-query wall and cpu deltas; set the floors to ~2x those. Current
floors: wall 50 ms, cpu 250 ms (the r20 anchor pair measured up to
+122 ms cpu growth per query between two idle same-code runs, so the
floor is 2x that; the earlier 150 ms floor came from an 80 ms pair).

Exit codes: 0 clean / 1 regression or new failure / 2 unusable input.
"""
import json
import os
import re
import sys


def _lines(txt):
    for line in txt.splitlines():
        line = line.strip()
        if not line.startswith("{") and "{" in line:
            line = line[line.find("{"):]  # strip an [info]-style prefix
        if not line:
            continue
        try:
            yield json.loads(line)
        except json.JSONDecodeError:
            continue


def _torn_suffix(txt, tail_totals):
    """Recover the intact suffix of a torn flat map.

    A truncated capture usually begins mid-way through one of the big
    line's three flat {"q_x":1.23,...} maps, its label lost to the cut.
    Drop everything up to the first comma (the torn entry), parse the
    rest up to the map's closing brace, and identify WHICH map from
    what follows that brace:
      ,"total_median" -> queries (min)   ,"total_cpu" -> queries_median
      ,"sf" -> the line's last map, disambiguated by the surviving
               total_tail line: queries_cpu when it carries total_cpu
               (round 19+), queries_median when it doesn't (round
               14-18). With NO total_tail to consult the map is
               REFUSED — guessing wrong would compare cpu seconds as
               wall seconds and triage a regressed run clean.
    Returns (name, dict, trailing_totals_or_None) or None; the third
    element carries the r22+ compact line's trailing run totals
    (total_median/total_cpu/n_queries/n_failed/sf) when the torn line
    is that contract line.
    """
    first = txt.splitlines()[0] if txt else ""
    cut = first.find(",")
    end = first.find("}")
    if cut < 0 or end <= cut:
        return None
    try:
        m = json.loads("{" + first[cut + 1:end + 1])
    except json.JSONDecodeError:
        return None
    if not m or not all(isinstance(v, (int, float)) for v in m.values()):
        return None
    after = first[end + 1:]
    # r22+ compact contract line: the run totals TRAIL the map exactly
    # so a head-torn capture still yields them — recover them as a
    # tail_totals substitute (the 3 KB line pushes the real total_tail
    # line out of a 2 KB window)
    trailing = None
    if after.startswith(',"total_median"') and '"n_failed"' in after:
        try:
            trailing = json.loads("{" + after[1:])
        except json.JSONDecodeError:
            pass
    if after.startswith(',"total_median"'):
        return "queries", m, trailing
    if after.startswith(',"total_cpu"'):
        return "queries_median", m, None
    if after.startswith(',"sf"') and tail_totals is not None:
        return ("queries_cpu" if "total_cpu" in tail_totals
                else "queries_median"), m, None
    return None


def _salvage(txt, path):
    """Best-effort result from truncated bench stdout (raw or a tail).

    Two bench formats are understood (round 22 moved the machine
    contract line to the END of stdout so the driver's tail capture can
    parse it — VERDICT r21 #2):
      - pre-r22: ONE `"metric":"total"` line carrying full-precision
        queries/queries_median/queries_cpu maps;
      - r22+: a `"metric":"total_verbose"` line with those same maps,
        then suspects/total_tail, then a LAST compact
        `"metric":"total"` line (3-decimal `queries` map, run totals
        and n_failed trailing the map so a head-torn capture still
        yields them).
    Preference: the full-precision maps (either name) when intact,
    else the compact line with suspects-cpu overlay.
    """
    suspects, tail_totals, sus_sf = None, None, None
    verbose, compact = None, None
    for e in _lines(txt):
        if e.get("metric") in ("total", "total_verbose") and "queries" in e:
            # the full-precision big line carries queries_cpu; the r22
            # compact contract line does not
            if "queries_cpu" in e:
                verbose = e
            else:
                compact = e
        if e.get("metric") == "load_suspects":
            suspects = e.get("top", {})
            sus_sf = e.get("sf")
        if e.get("metric") == "total_tail":
            tail_totals = e
    if verbose is not None:
        verbose.setdefault("partial", False)
        return verbose
    maps = {}
    # intact labeled maps (sub-~3k tails cut them all; bigger captures
    # may keep the later ones)
    for key in ("queries", "queries_median", "queries_cpu"):
        i = txt.find(f'"{key}":{{')
        j = txt.find("}", i) if i >= 0 else -1
        if j >= 0:
            try:
                maps[key] = json.loads(txt[i + len(key) + 3 : j + 1])
            except json.JSONDecodeError:
                pass  # the map itself was cut at the end
    if compact is not None:
        # a head-torn verbose line can still hold an intact full-
        # precision queries_cpu map: keep it, suspects' cpu on top
        cpu = dict(maps.get("queries_cpu", {}))
        for q, v in (suspects or {}).items():
            cpu[q] = v["cpu"]
        return {"queries": compact["queries"], "queries_cpu": cpu,
                "partial": False,
                "n_failed": compact.get(
                    "n_failed",
                    tail_totals.get("n_failed") if tail_totals else None),
                "sf": compact.get("sf")}
    torn = _torn_suffix(txt, tail_totals)
    partial_wall = False
    if torn and torn[0] not in maps:
        name, m, trailing = torn
        print(f"note: {path}: recovered the intact suffix of a torn "
              f"{name} map ({len(m)} entries)", file=sys.stderr)
        maps[name] = m
        partial_wall = name != "queries_cpu"
        if tail_totals is None and trailing is not None:
            print(f"note: {path}: run totals recovered from the torn "
                  "contract line's trailing keys", file=sys.stderr)
            tail_totals = trailing
    wall = maps.get("queries") or maps.get("queries_median")
    n_failed = tail_totals.get("n_failed") if tail_totals else None
    sf = tail_totals.get("sf") if tail_totals else sus_sf
    if wall:
        if "queries" not in maps:
            print(f"note: {path}: no intact min map; using the MEDIAN "
                  "as wall", file=sys.stderr)
        cpu = dict(maps.get("queries_cpu", {}))
        for q, v in (suspects or {}).items():
            cpu.setdefault(q, v["cpu"])
        n_q = tail_totals.get("n_queries") if tail_totals else None
        return {"queries": wall, "queries_cpu": cpu,
                "partial": partial_wall or (n_q is not None
                                            and len(wall) < n_q),
                "n_failed": n_failed, "sf": sf}
    if suspects:
        print(f"note: {path}: only the load_suspects line survives — "
              f"triaging those {len(suspects)} queries only",
              file=sys.stderr)
        # a torn queries_cpu map recovered above must not be thrown
        # away here (ADVICE r20): seed cpu coverage from it and overlay
        # the suspects' per-query cpu — the cpu-only REGRESSION gate
        # can then still fire for queries the suspects line dropped
        cpu = dict(maps.get("queries_cpu", {}))
        for q, v in suspects.items():
            cpu[q] = v["cpu"]
        return {"queries": {q: v["min"] for q, v in suspects.items()},
                "queries_cpu": cpu,
                "partial": True, "n_failed": n_failed, "sf": sf}
    if tail_totals is not None:
        # nothing per-query survived (an empty suspects top is possible
        # under the 0.2 s min-wall floor) but the run's totals did: a
        # queries-empty partial result keeps the hidden-failure check
        # alive instead of refusing the artifact outright (ADVICE r20)
        print(f"note: {path}: only the total_tail line survives — no "
              "per-query coverage; checking n_failed only",
              file=sys.stderr)
        return {"queries": {}, "queries_cpu": {},
                "partial": True, "n_failed": n_failed, "sf": sf}
    return None


def load(path):
    """Return {"queries": {...}, "queries_cpu": {...}, "partial": bool,
    "n_failed": int|None}."""
    with open(path) as f:
        txt = f.read()
    d = _salvage(txt, path)
    if d is None:
        # driver artifact shape: {"tail": "<truncated bench stdout>"}
        try:
            wrapper = json.loads(txt)
        except json.JSONDecodeError:
            wrapper = None
        if wrapper is not None and isinstance(wrapper.get("tail"), str):
            d = _salvage(wrapper["tail"], path)
    if d is None:
        print(f"{path}: no bench 'total' line, intact or torn map, or "
              "load_suspects line", file=sys.stderr)
        sys.exit(2)
    d.setdefault("n_failed", None)
    d.setdefault("sf", None)
    return d


def calibrate(a_path, b_path):
    """Two idle same-code runs -> the wobble the floors must absorb.

    The suggestion keys on cpu GROWTH only (b over a): shrinkage is
    harmless to a floor that exists to keep wobble from reading as a
    REGRESSION, and min-wall rep selection makes large negative deltas
    common (the older run's min rep can catch a GC-heavy rep). Both
    directions are printed; run it both ways if the run order is
    arbitrary.
    """
    a, b = load(a_path), load(b_path)
    deltas = []
    for q, w in b["queries"].items():
        wo = a["queries"].get(q)
        if wo is None or wo < 0 or w < 0:
            continue
        co = a.get("queries_cpu", {}).get(q)
        cn = b.get("queries_cpu", {}).get(q)
        dc = cn - co if co is not None and cn is not None \
            and co >= 0 and cn >= 0 else None
        deltas.append((abs(w - wo), dc, q))
    if not deltas:
        print("no overlapping queries", file=sys.stderr)
        return 2
    # key on the delta alone: a tie must not fall through to comparing
    # a float cpu-delta against a None from a cpu-less artifact
    mw = max(deltas, key=lambda t: t[0])
    print(f"{len(deltas)} queries; max wall delta {mw[0]*1000:.0f} ms "
          f"({mw[2]})")
    cpus = [(dc, q) for _, dc, q in deltas if dc is not None]
    if cpus:
        mg = max(cpus, key=lambda t: t[0])
        ms = min(cpus, key=lambda t: t[0])
        grow = max(0.0, mg[0])
        print(f"max cpu growth {grow*1000:+.0f} ms ({mg[1]}), max "
              f"shrink {min(0.0, ms[0])*1000:+.0f} ms ({ms[1]}); "
              f"suggested cpu_floor ~{max(0.05, 2 * grow):.2f} s "
              "(2x max growth)")
    else:
        print("no cpu data in one of the runs")
    return 0


def selftest():
    """Pin the tool's own behavior over synthetic artifacts: the
    classification matrix, torn-tail salvage, suspects-only hidden
    failures, and raw-log salvage. Exit 0 iff every case matches."""
    import subprocess
    import tempfile
    me = os.path.abspath(__file__)
    tmp = tempfile.mkdtemp(prefix="triage_selftest_")

    def write(name, txt):
        p = os.path.join(tmp, name)
        with open(p, "w") as f:
            f.write(txt)
        return p

    def bench_line(wall, cpu, n_failed=0, sf="x"):
        qs, cs = json.dumps(wall), json.dumps(cpu)
        med = json.dumps({k: (v * 1.1 if v >= 0 else v)
                          for k, v in wall.items()})
        return (f'{{"metric":"total","value":1,"unit":"sec",'
                f'"queries":{qs},"total_median":1,"queries_median":{med},'
                f'"total_cpu":1,"queries_cpu":{cs},"sf":"{sf}"}}\n'
                f'{{"metric":"total_tail","value":1,"unit":"sec",'
                f'"total_median":1,"total_cpu":1,'
                f'"n_queries":{len(wall)},"n_failed":{n_failed},'
                f'"sf":"{sf}"}}\n')

    def run(args):
        r = subprocess.run([sys.executable, me] + args,
                           capture_output=True, text=True)
        return r.returncode, r.stdout

    fails = []
    n_checks = [0]

    def check(label, cond, detail=""):
        n_checks[0] += 1
        if not cond:
            fails.append(f"{label}: {detail}")

    old = write("old.json", bench_line(
        {"q_a": 1.0, "q_b": 1.0, "q_c": 0.5, "q_d": 1.0, "q_e": 1.0},
        {"q_a": 0.8, "q_b": 0.8, "q_c": 0.4, "q_d": 0.8, "q_e": 0.8}))
    # q_a wall+cpu up -> REGRESSION; q_b cpu flat, q_c cpu under floor
    # -> LOAD?; q_d crashed -> FAILED; q_e wall up only 1.3x (under the
    # 1.5x wall gate) with cpu up 1.5x/+0.4s -> REGRESSION via the
    # wall-gate-independent cpu path (ADVICE r20 medium)
    new = write("new.json", bench_line(
        {"q_a": 2.0, "q_b": 2.0, "q_c": 1.0, "q_d": -1.0, "q_e": 1.3},
        {"q_a": 1.6, "q_b": 0.82, "q_c": 0.45, "q_d": -1.0, "q_e": 1.2},
        n_failed=1))
    rc, out = run([old, new])
    check("matrix exit", rc == 1, f"rc={rc}")
    for want in ("q_a", "REGRESSION", "q_b", "LOAD?", "q_e",
                 "FAILED in new artifact: q_d"):
        check("matrix output", want in out, f"missing {want!r}")
    check("matrix counts", "2 REGRESSION" in out and "2 LOAD?" in out, out)

    rc, out = run([old, old])
    check("self-compare clean", rc == 0 and out.startswith("ok:"),
          f"rc={rc} out={out!r}")

    # torn tail: cut the big line mid-way through the min map, keep the
    # total_tail line whole — salvage must recover the suffix entries
    full = bench_line({"q_a": 1.0, "q_b": 2.0, "q_c": 3.0},
                      {"q_a": 0.1, "q_b": 0.2, "q_c": 0.3})
    big, tail_line = full.splitlines()
    cut = big.find('"q_b"') + 8  # mid-entry, label lost
    torn = write("torn.json",
                 json.dumps({"tail": big[cut:] + "\n" + tail_line}))
    rc, out = run([torn, new])
    check("torn old salvages", rc in (0, 1), f"rc={rc}")
    rc, out = run([old, torn])
    check("torn new salvages", rc == 0, f"rc={rc} out={out!r}")

    # suspects-only artifact whose run crashed a query: the surviving
    # n_failed must force exit 1 even with zero per-query evidence
    suspects = ('{"metric":"load_suspects","note":"x","top":{'
                '"q_a":{"medOverMin":1.5,"min":1.0,"med":1.5,"cpu":0.8}'
                '},"sf":"x"}')
    tail2 = ('{"metric":"total_tail","value":1,"unit":"sec",'
             '"total_median":1,"total_cpu":1,"n_queries":3,'
             '"n_failed":1,"sf":"x"}')
    crashed = write("crashed.json",
                    json.dumps({"tail": suspects + "\n" + tail2}))
    rc, out = run([old, crashed])
    check("hidden failure", rc == 1 and "hidden by truncation" in out,
          f"rc={rc} out={out!r}")

    # raw truncated log (no driver wrapper): same salvage must apply
    raw = write("raw.log", big[cut:] + "\n" + tail_line)
    rc, out = run([old, raw])
    check("raw-log salvage", rc == 0, f"rc={rc} out={out!r}")

    rc, out = run(["--calibrate", old, old])
    check("calibrate", rc == 0 and "max cpu growth +0 ms" in out,
          f"rc={rc} out={out!r}")

    # sf mismatch in ANCHOR mode must refuse (exit 2): a smaller-sf run
    # reads as uniformly improved and masks regressions (ADVICE r20)
    other_sf = write("other_sf.json", bench_line(
        {"q_a": 0.1}, {"q_a": 0.1}, sf="y"))
    env = dict(os.environ, BENCH_TRIAGE_ANCHOR=old)
    r = subprocess.run([sys.executable, me, other_sf],
                       capture_output=True, text=True, env=env)
    check("sf mismatch refused", r.returncode == 2
          and "sf mismatch" in r.stdout,
          f"rc={r.returncode} out={r.stdout!r}")
    # …while two-artifact mode only warns (cross-sf can be deliberate)
    rc2 = subprocess.run([sys.executable, me, old, other_sf],
                         capture_output=True, text=True)
    check("sf mismatch two-artifact warns",
          rc2.returncode != 2 and "sf mismatch" in rc2.stderr,
          f"rc={rc2.returncode} err={rc2.stderr!r}")

    # tail-only artifact (empty suspects possible under the 0.2s wall
    # floor): total_tail's n_failed must still force exit 1, and a
    # clean tail-only run must triage ok instead of being refused
    tail_only_bad = write("tail_only_bad.json", json.dumps({"tail":
        '{"metric":"total_tail","value":1,"unit":"sec","total_median":1,'
        '"total_cpu":1,"n_queries":3,"n_failed":2,"sf":"x"}'}))
    rc, out = run([old, tail_only_bad])
    check("tail-only hidden failure",
          rc == 1 and "hidden by truncation" in out,
          f"rc={rc} out={out!r}")
    tail_only_ok = write("tail_only_ok.json", json.dumps({"tail":
        '{"metric":"total_tail","value":1,"unit":"sec","total_median":1,'
        '"total_cpu":1,"n_queries":3,"n_failed":0,"sf":"x"}'}))
    rc, out = run([old, tail_only_ok])
    check("tail-only clean", rc == 0, f"rc={rc} out={out!r}")

    # a torn queries_cpu map + surviving suspects line: the recovered
    # cpu coverage must survive the suspects fallback (ADVICE r20) and
    # feed the cpu-only REGRESSION gate for a query the suspects
    # dropped (q_b below: cpu 0.8 -> 2.0, no wall row at all)
    torn_cpu_tail = (
        ':0.1,"q_b":2.0},"sf":"x"}\n'  # torn queries_cpu suffix (q_b)
        '{"metric":"load_suspects","note":"x","top":{'
        '"q_a":{"medOverMin":1.1,"min":1.0,"med":1.1,"cpu":0.8}},'
        '"sf":"x"}\n'
        '{"metric":"total_tail","value":1,"unit":"sec","total_median":1,'
        '"total_cpu":1,"n_queries":2,"n_failed":0,"sf":"x"}')
    torn_cpu = write("torn_cpu.json", json.dumps({"tail": torn_cpu_tail}))
    rc, out = run([old, torn_cpu])
    check("torn cpu overlay feeds cpu-only gate",
          rc == 1 and "q_b" in out and "REGRESSION" in out,
          f"rc={rc} out={out!r}")

    # ---- r22+ format: verbose line first, compact contract line LAST
    def bench_r22(wall, cpu, n_failed=0, sf="x"):
        def r3(v):
            return round(v, 3)
        qs3 = json.dumps({k: (r3(v) if v >= 0 else v)
                          for k, v in wall.items()})
        verbose = bench_line(wall, cpu, n_failed=n_failed, sf=sf).replace(
            '{"metric":"total",', '{"metric":"total_verbose",', 1)
        compact = (f'{{"metric":"total","value":1,"unit":"sec",'
                   f'"queries":{qs3},"total_median":1,"total_cpu":1,'
                   f'"n_queries":{len(wall)},"n_failed":{n_failed},'
                   f'"sf":"{sf}"}}')
        return verbose + compact + "\n"

    # full r22 log: the full-precision verbose maps must be preferred —
    # a cpu-only regression (wall flat) is invisible to the compact
    # line, so detecting q_f proves the verbose cpu map was used
    r22_old = write("r22_old.json", bench_r22({"q_f": 1.0}, {"q_f": 0.5}))
    r22_new = write("r22_new.json", bench_r22({"q_f": 1.0}, {"q_f": 1.2}))
    rc, out = run([r22_old, r22_new])
    check("r22 verbose cpu preferred",
          rc == 1 and "q_f" in out and "REGRESSION" in out,
          f"rc={rc} out={out!r}")

    # torn r22 tail: the ~3 KB compact line alone overflows a 2 KB
    # window, so the capture holds only its torn suffix — the map
    # suffix AND the trailing totals (n_failed!) must both be
    # recovered, with no total_tail line in the window at all
    r22_full = bench_r22({"q_a": 1.0, "q_b": 2.0, "q_c": -1.0},
                         {"q_a": 0.1, "q_b": 0.2, "q_c": -1.0}, n_failed=1)
    compact_line = r22_full.splitlines()[-1]
    cut2 = compact_line.find('"q_b"') + 7  # mid-entry, label lost
    torn22 = write("torn22.json",
                   json.dumps({"tail": compact_line[cut2:]}))
    rc, out = run([old, torn22])
    check("r22 torn compact salvages totals",
          rc == 1 and "FAILED in new artifact: q_c" in out,
          f"rc={rc} out={out!r}")

    # head-torn verbose line whose queries_cpu map survives intact, then
    # the compact contract line: the full-precision cpu of a query the
    # suspects line does not name (q_f, cpu 0.5 -> 1.2, wall flat) must
    # reach the cpu-only REGRESSION gate
    r22_cpu_old = write("r22_cpu_old.json", bench_r22(
        {"q_f": 1.0, "q_g": 1.0}, {"q_f": 0.5, "q_g": 0.5}))
    verbose_line, tail_line22, compact22 = bench_r22(
        {"q_f": 1.0, "q_g": 1.0}, {"q_f": 1.2, "q_g": 0.5}).splitlines()
    r22_cpu_new = write("r22_cpu_new.json", json.dumps({"tail": "\n".join([
        verbose_line[verbose_line.find(',"total_cpu"'):],
        '{"metric":"load_suspects","note":"x","top":{'
        '"q_g":{"medOverMin":1.1,"min":1.0,"med":1.1,"cpu":0.5}},"sf":"x"}',
        tail_line22, compact22])}))
    rc, out = run([r22_cpu_old, r22_cpu_new])
    check("r22 compact keeps an intact queries_cpu map",
          rc == 1 and "q_f" in out and "REGRESSION" in out,
          f"rc={rc} out={out!r}")

    # a crash in a query the OLD artifact lacks (new query vs a stale
    # anchor, or a torn old map) must still exit 1, never skip clean
    small_old = write("small_old.json",
                      bench_line({"q_a": 1.0}, {"q_a": 0.8}))
    crashed_new = write("crashed_new.json", bench_line(
        {"q_a": 1.0, "q_z": -1.0}, {"q_a": 0.8, "q_z": -1.0}, n_failed=1))
    rc, out = run([small_old, crashed_new])
    check("crash absent from old",
          rc == 1 and "FAILED in new artifact: q_z" in out,
          f"rc={rc} out={out!r}")

    for f in fails:
        print(f"SELFTEST FAIL {f}")
    print(f"selftest: {'FAIL' if fails else 'ok'} "
          f"({n_checks[0] - len(fails)}/{n_checks[0]} checks)")
    return 1 if fails else 0


def main():
    argv = sys.argv[1:]
    if argv and argv[0] == "--selftest":
        return selftest()
    if argv and argv[0] == "--calibrate":
        if len(argv) != 3:
            print(__doc__, file=sys.stderr)
            return 2
        return calibrate(argv[1], argv[2])
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2

    def _is_float(s):
        try:
            float(s)
            return True
        except ValueError:
            return False

    # single-artifact mode, with or without a trailing [threshold]: a
    # bare number in position 2 is the threshold habit, not a path
    anchor_mode = False
    if len(argv) == 1 or (len(argv) == 2 and _is_float(argv[1])):
        anchor = os.environ.get("BENCH_TRIAGE_ANCHOR") or os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..", "BENCH_idle_anchor.json")
        if not os.path.exists(anchor):
            print(f"single-artifact mode needs {anchor}", file=sys.stderr)
            return 2
        print(f"note: comparing against the idle anchor {anchor}",
              file=sys.stderr)
        argv = [anchor] + argv
        anchor_mode = True
    old, new = load(argv[0]), load(argv[1])
    if old.get("sf") and new.get("sf") and old["sf"] != new["sf"]:
        msg = (f"sf mismatch: old/anchor ran {old['sf']!r}, new ran "
               f"{new['sf']!r} — a smaller-sf run reads as uniformly "
               "improved and masks regressions")
        if anchor_mode:
            print(f"REFUSED: {msg}")
            return 2
        print(f"warning: {msg}", file=sys.stderr)
    ratio = float(argv[2]) if len(argv) > 2 else 1.5
    floor = 0.05  # ignore sub-50ms wall jitter on tiny queries
    # CPU floors: executor CPU itself wobbles run-to-run (the r20 idle
    # anchor pair measured up to +122 ms growth on one query — recipe
    # in the header), so a REGRESSION verdict requires growth a wobble
    # cannot produce: >= 250 ms AND >= 1.2x.
    # The 1.2x is deliberately below the wall ratio — cpu is the
    # load-immune signal, so moderate real growth must not hide behind
    # the wall spike's own 1.5x bar (ADVICE r19).
    cpu_floor, cpu_ratio = 0.25, 1.2
    partial = old.get("partial") or new.get("partial")
    rows, failed_new = [], []
    # coverage is the UNION of wall and cpu keys: a salvaged artifact
    # can carry cpu for queries whose wall rows were cut, and the cpu
    # gate below fires without a wall spike (ADVICE r20 medium)
    new_cov = sorted(set(new["queries"]) | set(new.get("queries_cpu", {})))
    for q in new_cov:
        w_new = new["queries"].get(q)
        w_old = old["queries"].get(q)
        # crash check FIRST: a query the old artifact/anchor lacks (new
        # query, torn old map) must still surface its failure — never a
        # clean skip
        if w_new is not None and w_new < 0:
            failed_new.append(q)
            continue
        if w_old is not None and w_old < 0:
            print(f"note: {q} failed in the OLD artifact, runs now",
                  file=sys.stderr)
            continue
        c_old = old.get("queries_cpu", {}).get(q)
        c_new = new.get("queries_cpu", {}).get(q)
        have_cpu = (c_old is not None and c_new is not None
                    and c_old >= 0 and c_new >= 0)
        wall_spiked = (w_old is not None and w_new is not None
                       and w_new > max(ratio * w_old, w_old + floor))
        cpu_grew = have_cpu and \
            c_new > max(cpu_ratio * c_old, c_old + cpu_floor)
        if not wall_spiked and not cpu_grew:
            continue
        if cpu_grew:
            verdict = "REGRESSION"
        elif have_cpu:
            verdict = "LOAD?"
        else:
            verdict = "WALL-ONLY"
        sort_ratio = (w_new / max(w_old, 1e-9) if wall_spiked
                      else c_new / max(c_old, 1e-9))
        rows.append((sort_ratio, q, w_old, w_new, c_old, c_new, verdict))
    rows.sort(reverse=True)
    n_both = len((set(new["queries"]) | set(new.get("queries_cpu", {})))
                 & (set(old["queries"]) | set(old.get("queries_cpu", {}))))
    scope = (f"{n_both} compared queries"
             + (" (PARTIAL — truncated artifact)" if partial else ""))
    for q in failed_new:
        print(f"FAILED in new artifact: {q}")
    # truncation can hide WHICH query failed but total_tail survives:
    # a crashed run must never triage clean just because its per-query
    # rows were cut (ADVICE r19)
    hidden_failures = 0
    if new.get("partial") and (new.get("n_failed") or 0) > len(failed_new):
        hidden_failures = new["n_failed"] - len(failed_new)
        print(f"FAILED: new artifact's total_tail reports "
              f"n_failed={new['n_failed']} but the surviving per-query "
              "rows identify only "
              f"{len(failed_new)} — a crash is hidden by truncation")
    if rows:
        print(f"{'query':34} {'wall old':>9} {'wall new':>9} "
              f"{'cpu old':>8} {'cpu new':>8}  verdict")
        for r, q, wo, wn, co, cn, v in rows:
            fmt = lambda x, w=8: (f"{x:{w}.3f}"
                                  if x is not None and x >= 0
                                  else " " * (w - 3) + "n/a")
            print(f"{q:34} {fmt(wo, 9)} {fmt(wn, 9)} {fmt(co)} {fmt(cn)}  "
                  f"{v}  ({r:.1f}x)")
    n = {v: sum(1 for r in rows if r[-1] == v)
         for v in ("REGRESSION", "LOAD?", "WALL-ONLY")}
    if not rows and not failed_new and not hidden_failures:
        print(f"ok: no query grew past {ratio}x (wall) or the cpu floor "
              f"over {scope}")
        return 0
    print(f"\n{len(rows)} flagged (wall >{ratio}x or cpu grown) over "
          f"{scope}: "
          f"{n['REGRESSION']} REGRESSION (cpu grew >=250ms & >=1.2x), "
          f"{n['LOAD?']} LOAD? (cpu within wobble), "
          f"{n['WALL-ONLY']} wall-only (no cpu data); "
          f"{len(failed_new) + hidden_failures} failed in new.")
    if n["REGRESSION"] and n["LOAD?"] >= 2:
        # heavy box contention inflates executor CPU too (cache thrash:
        # the r19 driver artifact read 1.76s cpu on a query whose idle
        # cpu is 0.10s) — when the same artifact also carries multiple
        # LOAD? rows, its REGRESSION rows deserve an idle confirmation
        print("caution: the new artifact looks loaded "
              f"({n['LOAD?']} LOAD? rows) — contention inflates cpu as "
              "well; confirm each REGRESSION with an idle "
              "`runMain graft.RunOne <q>,... <sfDir> 3` before acting")
    return 1 if n["REGRESSION"] or failed_new or hidden_failures else 0


if __name__ == "__main__":
    sys.exit(main())
