#!/usr/bin/env python3
"""Per-query regression check between two Bench JSON artifacts.

BASELINE.md's rule: any query slower than its recorded median by >3x
across two consecutive rounds (outside documented host-noise windows)
is a plan regression. This prints every key's old/new/ratio, flags
>threshold, and lists keys present on only one side.

Data-bound sweeps have a documented WANDERING noise band (contiguous
victim windows that move between runs and are solo-clean), so a sweep
ratio alone is not evidence of a code regression. With --probe, every
flagged key is re-measured SOLO (SPARK_GRAFT_ONLY, same binary, same
SF dir as NEW) and the probe results are folded back into NEW.json
under "probes" as {key: {"sweep": s, "solo": s, "old": s,
"solo_ratio": r}}; the final verdict then counts a key as a REGRESSION
only if its SOLO time also exceeds threshold x old. Probing needs the
classpath file /tmp/graft_cp.txt (see the build notes); the probe's
heap is SPARK_DRIVER_MEM (default 8g), the setting build.sbt's forked
run reads.

With --same-code=REF (implies --probe), every SOLO-CONFIRMED key also
gets the decisive noise-attribution receipt (the r11 t8 method,
automated): REF — normally the previous round's commit — is rebuilt in
a git worktree (/tmp/graft_samecode_wt, sbt compile, cached across
keys/runs) and the key is probed twice per side, INTERLEAVED
(old-classes, new-classes, old, new), so both builds sample the same
host window. Results land in probes[key]["same_code"] =
{"ref", "old_classes": [s,...], "new_classes": [s,...], "verdict"}.
Overlapping time bands (min(new) <= max(old)) = the old build measures
the same band today -> "host-drift"; disjoint bands -> "code-attributed".

Usage: python3 tools/bench_regress.py OLD.json NEW.json [threshold]
           [--probe] [--same-code=REF]
"""
import json
import os
import subprocess
import sys
import tempfile

same_code_ref = None
for a in sys.argv[1:]:
    if a.startswith("--same-code="):
        same_code_ref = a.split("=", 1)[1]
argv = [a for a in sys.argv[1:]
        if a != "--probe" and not a.startswith("--same-code=")]
do_probe = "--probe" in sys.argv[1:] or same_code_ref is not None
old_doc = json.load(open(argv[0]))
new_doc = json.load(open(argv[1]))
old, new = old_doc["queries"], new_doc["queries"]
thr = float(argv[2]) if len(argv) > 2 else 3.0

flagged = []
for k in sorted(set(old) & set(new)):
    o, n = old[k], new[k]
    if o <= 0 or n <= 0:
        continue
    r = n / o
    mark = " <-- over threshold" if r > thr else ""
    if r > thr:
        flagged.append(k)
    print(f"{k:28s} old={o:8.2f}s new={n:8.2f}s ratio={r:5.2f}{mark}")
only_old = sorted(set(old) - set(new))
only_new = sorted(set(new) - set(old))
if only_old:
    print("only in old:", ", ".join(only_old))
if only_new:
    print("only in new:", ", ".join(only_new))


def solo_probe(key, sf_dir, cp=None):
    """One-key Bench run, same SF dir as the sweep; `cp` overrides the
    classpath (the same-code worktree's classes)."""
    if cp is None:
        cp = open("/tmp/graft_cp.txt").read().strip()
    out = tempfile.NamedTemporaryFile(suffix=".json", delete=False).name
    # SPARK_GRAFT_CPUS is inherited: the probe must run the partitioning
    # of the sweep it checks (Bench defaults it to the core count)
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_BENCH_ROUNDS="1",
               SPARK_GRAFT_ONLY=key,
               SPARK_GRAFT_BENCH_OUT=out)
    xmx = os.environ.get("SPARK_DRIVER_MEM", "8g")
    # capture stderr so a failing solo run reports its diagnostics
    # instead of a bare CalledProcessError
    proc = subprocess.run(["java", f"-Xmx{xmx}", "-cp", cp, "graft.Bench"],
                          env=env, stdout=subprocess.DEVNULL,
                          stderr=subprocess.PIPE)
    if proc.returncode != 0:
        tail = proc.stderr.decode(errors="replace").splitlines()[-30:]
        raise RuntimeError(
            f"solo probe of {key} failed (exit {proc.returncode}):\n" +
            "\n".join(tail))
    doc = json.load(open(out))
    os.unlink(out)
    return doc["queries"][key]


real = list(flagged)
if do_probe and flagged:
    sf_dir = new_doc.get("sf", "/root/testdata/sf0.1")
    probes = new_doc.setdefault("probes", {})
    def write_back():
        # atomic write: a crash mid-dump (or a later probe's failure)
        # must never truncate or corrupt the committed bench record
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(
            os.path.abspath(argv[1])) or ".", suffix=".json.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(new_doc, f)
        os.replace(tmp, argv[1])

    wt_cp = None

    def same_code_cp():
        """Build REF's classes in a cached worktree, return its cp."""
        global wt_cp
        if wt_cp is not None:
            return wt_cp
        wt = "/tmp/graft_samecode_wt"
        if not os.path.isdir(wt):
            subprocess.run(["git", "worktree", "add", "--detach", wt,
                            same_code_ref], check=True)
        else:
            subprocess.run(["git", "-C", wt, "checkout", "--detach",
                            same_code_ref], check=True)
        print(f"[same-code] sbt compile of {same_code_ref} in {wt} ...",
              flush=True)
        subprocess.run(["sbt", "compile"], cwd=wt, check=True,
                       stdout=subprocess.DEVNULL)
        entries = open("/tmp/graft_cp.txt").read().strip().split(":")
        # drop the repo's OWN classes entry by path match (not by
        # position): if it stayed on the classpath it would shadow, or
        # be shadowed by, the worktree build and silently corrupt the
        # same-code verdict
        repo_classes = [e for e in entries
                        if "/target/scala-" in e and e.endswith("/classes")
                        and not e.startswith(wt)]
        assert repo_classes, (
            "no repo classes entry found in /tmp/graft_cp.txt -- "
            "refusing to build a same-code classpath that might still "
            "contain the new build")
        spark_jars = ":".join(e for e in entries if e not in repo_classes)
        wt_cp = f"{wt}/target/scala-2.13/classes:{spark_jars}"
        return wt_cp

    real = []
    for k in flagged:
        print(f"[probe] re-measuring {k} solo on {sf_dir} ...",
              flush=True)
        solo = solo_probe(k, sf_dir)
        ratio = solo / old[k]
        probes[k] = {"sweep": new[k], "solo": solo, "old": old[k],
                     "solo_ratio": round(ratio, 3)}
        verdict = "REGRESSION" if ratio > thr else "noise (solo-clean)"
        probes[k]["verdict"] = verdict
        print(f"[probe] {k}: sweep={new[k]:.2f}s solo={solo:.2f}s "
              f"old={old[k]:.2f}s solo_ratio={ratio:.2f} -> {verdict}")
        if ratio > thr:
            real.append(k)
            if same_code_ref:
                # the decisive receipt: interleaved old/new-classes
                # solos sample the same host window. 3 pairs, and the
                # demotion criterion is MEDIAN(new) <= max(old) -- a
                # single lucky new sample can no longer flip a noisy
                # true regression to PASS (ADVICE r12)
                cp_old = same_code_cp()
                olds, news = [], []
                for _ in range(3):
                    olds.append(solo_probe(k, sf_dir, cp=cp_old))
                    news.append(solo_probe(k, sf_dir))
                med_new = sorted(news)[len(news) // 2]
                sc_verdict = ("host-drift" if med_new <= max(olds)
                              else "code-attributed")
                probes[k]["same_code"] = {
                    "ref": same_code_ref,
                    "old_classes": [round(t, 3) for t in olds],
                    "new_classes": [round(t, 3) for t in news],
                    "verdict": sc_verdict}
                print(f"[same-code] {k}: old_classes={olds} "
                      f"new_classes={news} -> {sc_verdict}")
                if sc_verdict == "host-drift":
                    real.remove(k)
                    # keep the persisted verdict consistent with the
                    # exit-code demotion (ADVICE r12: a demoted key
                    # must not stay annotated as a real regression)
                    probes[k]["verdict"] = "host-drift (same-code)"
        write_back()  # persist each probe as it lands
    print(f"[probe] annotations written back to {argv[1]}")

label = "solo-confirmed " if do_probe else ""
print(f"\n{'FAIL' if real else 'PASS'}: {len(real)} {label}key(s) over "
      f"{thr}x" + (": " + ", ".join(real) if real else ""))
sys.exit(1 if real else 0)
