"""The benchmark's workloads.

Each workload owns its seeded input, one operation (the unit of work
the closed loop repeats), the correctness check of that operation's
output, and the per-layer measurements of a traced run. The program is
driven only through its public entry points: ``sources.transcripts``,
``pipeline``, ``lineage`` and the public ``operators.*`` and
``functions.*`` functions.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql import Observation

from opennre_spark import lineage, relations
from opennre_spark.operators.candidates import candidate_pairs
from opennre_spark.operators.mentions import detect_mentions
from opennre_spark.operators.scoring import score_encoded, score_instances
from opennre_spark.pipeline import encode_candidates, extract_triples, na_rel_id
from opennre_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_conversation,
    transcripts_df,
)

from . import checks

BAG_THRESHOLD = 0.15

INSTANCE_COLS = ["conv_id", "turn_idx", "pair_turn_idx", "text",
                 "h_id", "h_begin", "h_end", "t_id", "t_begin", "t_end"]
# the scoring inputs extract_triples(mode="sentence") keeps, and the
# columns its encoded= route keeps for sentence mode
SCORING_COLS = ["text", "h_begin", "h_end", "t_begin", "t_end", "h_id", "t_id"]
ENCODED_COLS = ["h_id", "t_id", "tok_bin", "h_start", "t_start", "n_tok"]


def observed_noop(df) -> int:
    """Run ``df`` into the noop sink; return its row count, observed in
    the same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def span_of(tracer):
    """The tracer's span factory, or a no-op one for untraced runs."""
    return tracer.span if tracer is not None else (lambda name: contextlib.nullcontext())


def triple_rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def score_parts(spark) -> int:
    """The scoring repartition width extract_triples and
    encode_candidates use."""
    return max(spark.sparkContext.defaultParallelism * 2, 16)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.first_output = None

    # set-up: materialise the seeded input; may run several times
    def materialise(self) -> None:
        raise NotImplementedError

    def attach(self, spark) -> None:
        """Point at the materialised input from (another) session."""
        self.spark = spark

    def prepare_checks(self) -> None:
        """Compute what the outputs are checked against. Untimed; the
        KG workloads' Spark jobs here also warm part of the JIT for the
        operation."""

    def op(self, tracer=None):
        """Run one operation. Returns (output, rows of input it consumed)."""
        raise NotImplementedError

    def check_output(self, output) -> list[str]:
        raise NotImplementedError

    def check(self, output) -> list[str]:
        """Full check on the first output; later outputs must match it."""
        if self.first_output is None:
            problems = self.check_output(output)
            if not problems:
                self.first_output = output
            return problems
        return self.same_output(output, self.first_output)

    def same_output(self, output, first) -> list[str]:
        return checks.same_triples(output, first)

    def layers(self, tracer) -> dict:
        """Traced run only: per-layer measurements beyond the op spans."""
        return {}

    def probe_instances(self):
        return None


# --- shared KG helpers --------------------------------------------------

class KGWorkload(Workload):
    n_convs = 0

    def materialise(self) -> None:
        path = os.path.join(self.work, "transcripts.parquet")
        transcripts_df(self.spark, self.n_convs, seed=self.seed).write.mode(
            "overwrite"
        ).parquet(path)
        self.attach(self.spark)
        self.n_turns = self.transcripts.count()


    def attach(self, spark) -> None:
        self.spark = spark
        self.transcripts = spark.read.parquet(os.path.join(self.work, "transcripts.parquet"))

    def sample_instances(self, n_convs: int) -> list[dict]:
        """Candidate instances of a seeded sample of whole conversations,
        generated on the driver (pairs never cross conversations, so
        these are exactly the corpus's instances for those
        conversations)."""
        rng = random.Random(self.seed ^ 0x5EED)
        idx = sorted(rng.sample(range(self.n_convs), n_convs))
        rows = [r for i in idx for r in generate_conversation(i, self.seed)[0]]
        sample = self.spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
        inst = candidate_pairs(detect_mentions(sample, relations.gazetteer()))
        out = [r.asDict() for r in inst.select(*INSTANCE_COLS).collect()]
        out.sort(key=lambda r: tuple(r[c] for c in INSTANCE_COLS))
        return out

    def reference_decisions(self, instances):
        from opennre_spark.functions.weights import default_model

        vocab, W = default_model()
        rel2id = relations.rel2id_for("reduced")
        id2rel = {v: k for k, v in rel2id.items()}
        neg = id2rel[na_rel_id(rel2id)]
        return checks.oracle_decisions(instances, vocab, W, id2rel, neg)

    def probe_instances(self):
        return self.instances

    def prefix_chain(self) -> list:
        """(stage, DataFrame builder) for each prefix of the operation's
        own plan, in order."""
        raise NotImplementedError

    def stage_prefixes(self, tracer) -> dict:
        """Outside-in stage times: a noop sink on each prefix of the
        operation's plan, timed in a span ``prefix:<stage>``; a stage's
        self time is its prefix's wall minus the previous prefix's."""
        stages = []
        for name, build in self.prefix_chain():
            with tracer.span("prefix:" + name) as sp:
                rows = observed_noop(build())
            stages.append((name, sp["end"] - sp["start"], rows))
        return {"stages": stages}


# --- workloads ----------------------------------------------------------

class SentenceBulk(KGWorkload):
    """Raw transcripts to sentence-mode CNN triples in one fused job."""

    name = "sentence_bulk"
    n_convs = 4000
    # seed 42: 4,000 conversations give 37,870 turns and 8,702 triples
    PINNED = {42: (37870, 8702)}
    SAMPLE_CONVS = 8

    def prepare_checks(self) -> None:
        self.instances = self.sample_instances(self.SAMPLE_CONVS)
        self.decisions = self.reference_decisions(self.instances)

    def op(self, tracer=None):
        rows = triple_rows(extract_triples(self.transcripts, mode="sentence"))
        return rows, self.n_turns

    def check_output(self, rows) -> list[str]:
        pinned = self.PINNED.get(self.seed)
        problems = []
        if pinned is not None and self.n_turns != pinned[0]:
            problems.append(f"{self.n_turns} turns, expected {pinned[0]}")
        return problems + checks.check_triples(
            rows, self.decisions, pinned[1] if pinned else None
        )

    def prefix_chain(self) -> list:
        """The fused route extract_triples(mode="sentence") takes without
        an encoded table: the candidate join with the scoring
        repartition, then tokenize, encode and the CNN kernel in one
        score_instances pass, then the triple aggregate. It has no
        separate encode stage."""
        tr = self.transcripts

        def candidates():
            mentions = detect_mentions(tr, relations.gazetteer())
            return candidate_pairs(mentions, repartition=score_parts(self.spark)).select(
                *SCORING_COLS)

        return [
            ("mentions", lambda: detect_mentions(tr, relations.gazetteer())),
            ("candidates", candidates),
            ("score", lambda: score_instances(candidates(), schema="reduced",
                                              encoder="cnn", with_rep=False)),
            ("triples", lambda: extract_triples(tr, mode="sentence")),
        ]

    def layers(self, tracer) -> dict:
        return {**self.stage_prefixes(tracer),
                "land": land(self.spark, self.work, self.seed, tracer)}


class BagsShared(KGWorkload):
    """One persisted encode feeding sentence, att and one triple tables."""

    name = "bags_shared"
    n_convs = 500
    SAMPLE_BAGS = 8
    # cap on the bag members whose sentence decisions are also checked
    SAMPLE_DECISIONS = 300

    def prepare_checks(self) -> None:
        """Bags of seeded entity pairs, collected whole from the corpus in
        one job. The pairs are gold facts of seeded conversations, known
        from the generator without running Spark, so each bag exists."""
        from opennre_spark.functions.weights import default_model

        rng = random.Random(self.seed ^ 0xBA6)
        pairs: set[tuple] = set()
        while len(pairs) < self.SAMPLE_BAGS:
            golds = generate_conversation(rng.randrange(self.n_convs), self.seed)[1]
            if golds:
                g = rng.choice(golds)
                pairs.add((g[2], g[5]))
        cond = F.lit(False)
        for h, t in sorted(pairs):
            cond = cond | ((F.col("h_id") == h) & (F.col("t_id") == t))
        inst = candidate_pairs(detect_mentions(self.transcripts, relations.gazetteer()))
        bags: dict[tuple, list] = {p: [] for p in pairs}
        for r in inst.filter(cond).select(*INSTANCE_COLS).collect():
            bags[(r.h_id, r.t_id)].append(r.asDict())
        for members in bags.values():
            members.sort(key=lambda r: tuple(r[c] for c in INSTANCE_COLS))
        self.instances = [r for p in sorted(bags) for r in bags[p]][: self.SAMPLE_DECISIONS]
        self.decisions = self.reference_decisions(self.instances)
        vocab, W = default_model()
        ref = checks.oracle_bags(bags, vocab, W)
        self.expected_att = {p: (v[0], v[2]) for p, v in ref.items()}
        self.expected_one = {p: (v[1], v[2]) for p, v in ref.items()}
        rel2id = relations.rel2id_for("reduced")
        self.id2rel = {v: k for k, v in rel2id.items()}
        self.neg = self.id2rel[na_rel_id(rel2id)]

    def op(self, tracer=None):
        span = span_of(tracer)
        with span("encode"):
            enc = encode_candidates(self.transcripts).persist()
            enc.count()
        out = {}
        for mode in ("sentence", "att", "one"):
            with span(mode):
                out[mode] = triple_rows(extract_triples(
                    self.transcripts, mode=mode, threshold=BAG_THRESHOLD, encoded=enc
                ))
        enc.unpersist()
        return out, self.n_turns

    def same_output(self, out, first) -> list[str]:
        return [p for m in ("sentence", "att", "one")
                for p in checks.same_triples(out[m], first[m], m)]

    def prefix_chain(self) -> list:
        """The encoded route: encode_candidates (mention scan, candidate
        join with the scoring repartition, tokenize and encode), then
        score_encoded over its sentence columns, then the sentence
        triple aggregate over extract_triples(encoded=...)."""
        tr = self.transcripts

        def candidates():
            mentions = detect_mentions(tr, relations.gazetteer())
            return candidate_pairs(mentions, repartition=score_parts(self.spark)).select(
                *SCORING_COLS, "conv_id", "turn_idx", "pair_turn_idx")

        return [
            ("mentions", lambda: detect_mentions(tr, relations.gazetteer())),
            ("candidates", candidates),
            ("encode", lambda: encode_candidates(tr)),
            ("score", lambda: score_encoded(encode_candidates(tr).select(*ENCODED_COLS),
                                            schema="reduced", encoder="cnn", with_rep=False)),
            ("triples", lambda: extract_triples(tr, mode="sentence",
                                                encoded=encode_candidates(tr))),
        ]

    def layers(self, tracer) -> dict:
        return self.stage_prefixes(tracer)

    def check_output(self, out) -> list[str]:
        return (
            checks.check_triples(out["sentence"], self.decisions)
            + checks.check_bag_rows(out["att"], self.expected_att, self.id2rel,
                                    self.neg, BAG_THRESHOLD)
            + checks.check_bag_rows(out["one"], self.expected_one, self.id2rel,
                                    self.neg, BAG_THRESHOLD)
        )


def land(spark, work: str, seed: int, tracer, n_convs: int = 120, n_buckets: int = 4) -> dict:
    """The sentence pipeline landed bucket by bucket through the
    resumable runner, traced; a second call must find nothing pending
    and the landed triples must equal one extract_triples job's.

    Spans: ``land`` around both calls, ``bucket`` per landed bucket,
    ``write_bucket`` and ``completed_buckets`` around those public
    lineage functions."""
    from perfbench.tracing import wrap

    path = os.path.join(work, "land_in.parquet")
    transcripts_df(spark, n_convs, seed=seed).write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    want = extract_triples(corpus, mode="sentence").select("subj", "pred", "obj").collect()
    out_dir = os.path.join(work, "landed")
    starts: list[float] = []
    orig = lineage.bucket_of

    # run_with_resume builds one bucket filter at the start of each
    # bucket: those calls mark the bucket boundaries
    def marked(*a, **kw):
        starts.append(time.perf_counter())
        return orig(*a, **kw)

    restore = [wrap(lineage, "write_bucket", tracer),
               wrap(lineage, "completed_buckets", tracer)]
    lineage.bucket_of = marked
    try:
        with tracer.span("land") as sp:
            first = lineage.run_with_resume(corpus, out_dir, n_buckets=n_buckets)
            t1 = time.perf_counter()
            n_bounds = len(starts)
            second = lineage.run_with_resume(corpus, out_dir, n_buckets=n_buckets)
    finally:
        lineage.bucket_of = orig
        for r in restore:
            r()
    bounds = starts[:n_bounds] + [t1]
    for a, b in zip(bounds, bounds[1:]):
        tracer.spans.append({"id": len(tracer.spans), "name": "bucket", "parent": sp["id"],
                             "run": tracer.run_id, "start": a, "end": b})
    problems = []
    if len(first) != n_buckets or n_bounds != len(first):
        problems.append(f"first call landed {len(first)} buckets with {n_bounds} "
                        f"boundaries, expected {n_buckets}")
    if second:
        problems.append(f"second call re-processed {len(second)} buckets")
    landed = lineage.read_triples(spark, out_dir).select("subj", "pred", "obj").distinct()
    got, expected = {tuple(r) for r in landed.collect()}, {tuple(r) for r in want}
    if got != expected:
        problems.append(f"landed triples differ from one extract_triples job: "
                        f"{len(got - expected)} extra, {len(expected - got)} missing")
    files = size = 0
    for root, _, names in os.walk(out_dir):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    shutil.rmtree(out_dir, ignore_errors=True)
    return {"problems": problems, "buckets": n_buckets, "files": files, "bytes": size}


class NearDupAnn(Workload):
    """Similarity and dedup operators over seeded documents and vectors
    with planted exact, near-duplicate and perturbed-copy pairs."""

    name = "near_dup_ann"
    N_DOCS = 600
    N_VECS = 600
    DIM = 64
    MAX_HAMMING = 3
    JACCARD = 0.6
    SHINGLE_N = 3
    # the repository's embedding_dedup / ann_cosine_pairs configuration
    # (cosine 0.85, 16 planes in 8 bands of 2 bits): a planted near copy
    # (cosine ~0.997) is missed with probability ~3e-11, so the output
    # equals the brute-force truth
    COSINE = 0.85

    def materialise(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs, vecs = checks.make_near_dup_inputs(self.seed, self.N_DOCS, self.N_VECS, self.DIM)
        self.docs_in, self.vecs_in = docs, vecs
        pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                                 "text": [t for _, t in docs]}),
                       os.path.join(self.work, "docs.parquet"))
        pq.write_table(pa.table({"vec_id": pa.array([v for v, _ in vecs], pa.int64()),
                                 "embedding": pa.array([e for _, e in vecs],
                                                       pa.list_(pa.float64()))}),
                       os.path.join(self.work, "vecs.parquet"))
        self.attach(self.spark)

    def attach(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(os.path.join(self.work, "docs.parquet"))
        self.vecs = spark.read.parquet(os.path.join(self.work, "vecs.parquet"))

    def prepare_checks(self) -> None:
        self.want_sim = checks.simhash_pairs_truth(self.docs_in, self.MAX_HAMMING)
        self.want_jac = checks.jaccard_pairs_truth(self.docs_in, self.JACCARD, self.SHINGLE_N)
        self.want_cos = checks.cosine_pairs_truth(self.vecs_in, self.COSINE)
        self.want_clu = checks.components_truth([v for v, _ in self.vecs_in], self.want_cos)

    def op(self, tracer=None):
        from opennre_spark.operators import dedup, similarity

        span = span_of(tracer)
        with span("simhash"):
            sim = dedup.simhash_dup_pairs(self.docs, max_hamming=self.MAX_HAMMING,
                                          token_hash="md5").collect()
        with span("ngram_jaccard"):
            jac = dedup.ngram_jaccard_pairs(self.docs, jaccard_threshold=self.JACCARD,
                                            shingle_n=self.SHINGLE_N).collect()
        with span("ann_self_join"):
            ann = similarity.ann_self_join(self.vecs, self.DIM, self.COSINE,
                                           num_planes=16, num_bands=8).collect()
        with span("embedding_dedup"):
            clu = dedup.embedding_dedup(self.vecs, self.DIM, self.COSINE,
                                        num_planes=16, num_bands=8).collect()
        out = {
            "sim": {(r.id_a, r.id_b): r.hamming for r in sim},
            "jac": {(r.id_a, r.id_b): r.jaccard for r in jac},
            "ann": {(r.id_a, r.id_b): r.cos_sim for r in ann},
            "clu": {r.vec_id: r.cluster_id for r in clu},
        }
        return out, self.N_DOCS + self.N_VECS

    def compare(self, out, want) -> list[str]:
        return (
            checks.check_pairs(out["sim"], want["sim"], 0, "simhash")
            + checks.check_pairs(out["jac"], want["jac"], 1e-12, "ngram_jaccard")
            + checks.check_pairs(out["ann"], want["ann"], 1e-9, "ann_self_join")
            + checks.check_clusters(out["clu"], want["clu"])
        )

    def check_output(self, out) -> list[str]:
        return self.compare(out, {"sim": self.want_sim, "jac": self.want_jac,
                                  "ann": self.want_cos, "clu": self.want_clu})

    def same_output(self, out, first) -> list[str]:
        return self.compare(out, first)


WORKLOADS = {w.name: w for w in (SentenceBulk, BagsShared, NearDupAnn)}
