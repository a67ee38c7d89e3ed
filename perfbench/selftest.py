"""Fast self-test of the benchmark's own parsers and checks, at tiny
size and without Spark:

    python3 perfbench/selftest.py

Exits 0 and prints ``selftest ok`` when every case passes. Includes
deliberately corrupted outputs, which must be caught, and one that must
raise the closed loop's failed fraction.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, tracing  # noqa: E402


def expect(cond, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def test_event_log():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "att"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1100}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
    ]
    for i, run in enumerate((100, 100, 400)):
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": 1,
                   "Task Info": {"Launch Time": 1100 + i * 10, "Finish Time": 1200 + run,
                                 "Failed": False},
                   "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": run * 10**6,
                                    "JVM GC Time": 5, "Memory Bytes Spilled": 7,
                                    "Disk Bytes Spilled": 1,
                                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}})
    ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": 2,
               "Task Info": {"Launch Time": 2000, "Finish Time": 2050, "Failed": True},
               "Task Metrics": {"Executor Run Time": 50}})
    log = tracing.EventLog(json.dumps(e) for e in ev)
    t = log.totals("att")
    expect(t["jobs"] == 1 and t["tasks"] == 3, f"att totals {t}")
    expect(t["shuffle_write"] == 192 and t["spill"] == 24, f"att bytes {t}")
    expect(abs(t["run_s"] - 0.6) < 1e-9 and abs(t["cpu_s"] - 0.6) < 1e-9, f"att times {t}")
    expect(abs(t["wait_s"] - 0.03) < 1e-9, f"scheduler wait {t['wait_s']}")
    expect(log.stage_skew("att") == 4.0, f"skew {log.stage_skew('att')}")
    expect(log.totals("")["failed_tasks"] == 1, "failed task not counted")


def test_tracer(tmp):
    tr = tracing.Tracer("selftest")
    with tr.span("op") as op:
        with tr.span("child"):
            pass
    expect(tr.spans[1]["parent"] == op["id"], "child span has the wrong parent")
    path = os.path.join(tmp, "spans.jsonl")
    tr.write(path)
    with open(path) as f:
        rows = [json.loads(line) for line in f]
    expect([r["name"] for r in rows] == ["op", "child"], "spans not written in order")
    expect(all(r["run"] == "selftest" for r in rows), "run id missing")


def test_near_dup_truths():
    docs, vecs = checks.make_near_dup_inputs(7, 60, 60, 16)
    expect(len(docs) == 60 and len(vecs) == 60, "generator sizes")
    again = checks.make_near_dup_inputs(7, 60, 60, 16)
    expect(again == (docs, vecs), "generator is not a function of the seed")
    # truths against a plain all-pairs loop
    sh = {d: checks.shingles(t, 3) for d, t in docs}
    jac = {}
    for (a, ta), (b, tb) in itertools.combinations(docs, 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= 0.6:
            jac[(a, b)] = j
    want_jac = checks.jaccard_pairs_truth(docs, 0.6, 3)
    expect(want_jac == jac and want_jac, "jaccard truth differs from the loop")
    sim = checks.simhash_pairs_truth(docs, 3)
    expect(all(sim.get(p) == 0 for p, j in jac.items() if j == 1.0),
           "an exact duplicate is missing from the simhash truth")
    cos = checks.cosine_pairs_truth(vecs, 0.85)
    expect(cos and all(v >= 0.85 for v in cos.values()), "cosine truth")
    clu = checks.components_truth([v for v, _ in vecs], cos)
    expect(all(clu[b] == clu[a] == min(clu[a], a) for a, b in cos), "components")
    # the checks pass the truth and catch corruption
    expect(checks.check_pairs(dict(jac), want_jac, 1e-12, "j") == [], "clean pairs flagged")
    dropped = dict(jac)
    dropped.pop(next(iter(dropped)))
    expect(checks.check_pairs(dropped, want_jac, 1e-12, "j"), "missing pair not caught")
    shifted = {k: v - 0.01 for k, v in jac.items()}
    expect(checks.check_pairs(shifted, want_jac, 1e-12, "j"), "wrong value not caught")
    moved = dict(clu)
    moved[max(moved)] = -1
    expect(checks.check_clusters(moved, clu), "wrong cluster not caught")


def test_simhash_bits():
    # one token: every bit follows the md5 digest words directly
    import hashlib

    hx = hashlib.md5(b"w0001").hexdigest()
    wa, wb = int(hx[:8], 16), int(hx[8:16], 16)
    v = (wb << 32) | wa
    want = v - (1 << 64) if v >= 1 << 63 else v
    expect(checks.simhash_md5("w0001") == want, "single-token simhash")


def kg_fixture():
    from opennre_spark import relations
    from opennre_spark.functions.weights import default_model

    gaz = relations.gazetteer()
    h = next(g for g in gaz if g[0].startswith("P"))
    t = next(g for g in gaz if g[0].startswith("O"))
    text = f"{h[1]} joined {t[1]} last year"
    inst = {"text": text, "h_id": h[0], "t_id": t[0],
            "h_begin": 0, "h_end": len(h[1]),
            "t_begin": len(h[1]) + 8, "t_end": len(h[1]) + 8 + len(t[1])}
    vocab, W = default_model()
    return inst, vocab, W, relations.ID2REL


def test_kg_checks():
    inst, vocab, W, id2rel = kg_fixture()
    # negative label "" keeps every decision, whatever the model says
    dec = checks.oracle_decisions([inst], vocab, W, id2rel, "")
    expect(len(dec) == 1, "one decision per instance")
    h, rel, t, score = dec[0]
    rows = [{"subj": h, "pred": rel, "obj": t, "score": score, "n_support": 1}]
    ok = checks.check_triples(rows, dec, pinned=1)
    # NA as the model's decision would be flagged as a negative label
    expect(ok == [] or (rel == "NA" and ok == ["negative label emitted"]), f"clean {ok}")
    expect(checks.check_triples(rows, dec, pinned=2), "pinned count not enforced")
    expect(checks.check_triples(rows * 2, dec), "duplicate triple not caught")
    low = [dict(rows[0], score=score - 0.1)]
    expect(checks.check_triples(low, dec), "low score not caught")
    expect(checks.check_triples([], dec), "missing decision not caught")

    ref = checks.oracle_bags({(h, t): [inst, inst]}, vocab, W)
    att, one, size = ref[(h, t)]
    expect(size == 2, "bag size")
    bag_rows = [{"subj": h, "pred": id2rel[i], "obj": t, "score": float(s), "n_support": 2}
                for i, s in enumerate(att) if id2rel[i] != "NA" and s >= 0.15]
    expected = {(h, t): (att, 2)}
    expect(checks.check_bag_rows(bag_rows, expected, id2rel, "NA", 0.15) == [], "clean bag")
    if bag_rows:
        bad = [dict(bag_rows[0], score=bag_rows[0]["score"] + 0.01)] + bag_rows[1:]
        expect(checks.check_bag_rows(bad, expected, id2rel, "NA", 0.15), "bag score")
        wrong_size = [dict(r, n_support=3) for r in bag_rows]
        expect(checks.check_bag_rows(wrong_size, expected, id2rel, "NA", 0.15), "bag size")
    expect(checks.check_bag_rows([], expected, id2rel, "NA", 0.0), "missing bag rows")


def test_same_triples():
    """Later outputs are compared with the first within the score
    tolerance, not by rounding."""
    first = [{"subj": "a", "pred": "r", "obj": "b", "score": 0.1234549999, "n_support": 2},
             {"subj": "a", "pred": "s", "obj": "c", "score": 0.5, "n_support": 1}]
    # 2e-10 apart, but on either side of a 5-decimal rounding boundary
    jitter = [dict(first[0], score=0.1234550001), first[1]]
    expect(round(jitter[0]["score"], 5) != round(first[0]["score"], 5), "fixture")
    expect(checks.same_triples(jitter, first) == [], "score jitter flagged")
    expect(checks.same_triples(first[::-1], first) == [], "row order flagged")
    expect(checks.same_triples([dict(first[0], score=0.2), first[1]], first),
           "changed score not caught")
    expect(checks.same_triples([dict(first[0], n_support=3), first[1]], first),
           "changed n_support not caught")
    expect(checks.same_triples(first[:1], first), "missing triple not caught")
    expect(checks.same_triples(first + first[:1], first), "duplicate triple not caught")


def test_tracing_overhead():
    from perfbench.run import tracing_overhead

    def walls(*w):
        return {"walls": list(w)}

    got = tracing_overhead(walls(12.0, 10.0), walls(11.0, 11.0, 20.0), walls(12.0))
    expect(abs(got - 0.0) < 1e-12, f"bracketed overhead {got}")
    expect(tracing_overhead(walls(), walls(1.0), walls(1.0)) == 0.0, "empty session")


def test_normalised_walls():
    """Each operation's wall is scaled by the reference walls either
    side of it; a failed operation gets no normalised wall."""
    from perfbench.probes import REF_NOMINAL_S
    from perfbench.run import closed_loop, end_to_end
    from perfbench.workloads import Workload

    class Ref:
        walls = iter([2 * REF_NOMINAL_S, 4 * REF_NOMINAL_S])

        def measure(self):
            return next(self.walls)

    class Slow(Workload):
        n = 0

        def op(self, tracer=None):
            self.n += 1
            time.sleep(0.05)
            return self.n, 10

        def check(self, out):
            return [] if out == 1 else ["second output is wrong"]

    res = closed_loop(Slow(None, "", 0), 0.0, os.getpid(), min_ops=2, ref=Ref(),
                      ref_s=2 * REF_NOMINAL_S)
    expect(len(res["walls"]) == 1 and len(res["norm_walls"]) == 1, f"walls {res}")
    expect(abs(res["norm_walls"][0] - res["walls"][0] / 2) < 1e-12, "normalised wall")
    expect(res["ref_s"] == [2 * REF_NOMINAL_S, 4 * REF_NOMINAL_S], "reference walls")
    got = end_to_end(res, 1.0)["input_rows_per_s"]
    expect(abs(got - 10 / res["norm_walls"][0]) < 1e-9, f"normalised rate {got}")


def test_failed_fraction():
    """A loop whose outputs after the first are corrupted must count
    every one of them as failed."""
    from perfbench.run import closed_loop
    from perfbench.workloads import Workload

    dec = [("x", "y", "z", 0.5)]
    good = [{"subj": "x", "pred": "y", "obj": "z", "score": 0.5, "n_support": 1}]

    class Fake(Workload):
        n = 0
        good_ops = (1,)

        def op(self, tracer=None):
            self.n += 1
            rows = good if self.n in self.good_ops else [dict(good[0], score=0.1)]
            return rows, 5

        def check_output(self, out):
            return checks.check_triples(out, dec)

    # later outputs differ from the checked first one
    res = closed_loop(Fake(None, "", 0), 0.0, os.getpid(), min_ops=3)
    expect(res["attempted"] == 3 and res["failed"] == 2,
           f"corrupted outputs not counted: {res['failed']}/{res['attempted']}")
    # the first output itself is wrong (score below the reference)
    bad_first = Fake(None, "", 0)
    bad_first.good_ops = (2,)
    res = closed_loop(bad_first, 0.0, os.getpid(), min_ops=2)
    expect(res["failed"] == 1 and res["rows"] == 5,
           f"a wrong first output was not caught: {res}")


def main() -> int:
    scratch = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        tests = [test_event_log, lambda: test_tracer(tmp), test_near_dup_truths,
                 test_simhash_bits, test_kg_checks, test_same_triples,
                 test_tracing_overhead, test_normalised_walls, test_failed_fraction]
        for t in tests:
            t()
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
