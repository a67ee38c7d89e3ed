"""Measurements taken outside the operations: in-process kernel rates
on a sampled instance set, the resident memory of the PySpark workers,
and the host-speed reference job."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def _rate(fn, rows: int, seconds: float) -> float:
    """Rows per second of ``fn`` over repeated calls lasting at least
    ``seconds``."""
    fn()  # first call outside the timing: lazy tables, caches
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += rows
        dt = time.perf_counter() - t0
        if dt >= seconds:
            return n / dt


def kernel_rates(instances: list[dict], seconds: float = 0.5) -> dict:
    """tokenize (``encode_tokens_batch``), CNN sentence scoring
    (``sentence_scores``) and bag attention (``bag_attention_eval``)
    rows/s on one driver-side batch of the sampled instances."""
    from opennre_spark.functions.encoding import encode_batch, encode_tokens_batch
    from opennre_spark.functions.kernels import bag_attention_eval, sentence_scores
    from opennre_spark.functions.weights import default_model

    vocab, W = default_model()
    L = int(W["max_length"])
    pad, unk = vocab["[PAD]"], vocab["[UNK]"]
    cols = [np.array([r[c] for r in instances], dtype=np.int64)
            for c in ("h_begin", "h_end", "t_begin", "t_end")]
    texts = [r["text"] for r in instances]
    args = (texts, *cols, vocab, L, pad, unk)
    batch = encode_batch(*args, with_mask=False)
    rep, _ = sentence_scores(batch, W)
    bags: dict[tuple, list[int]] = {}
    for i, r in enumerate(instances):
        bags.setdefault((r["h_id"], r["t_id"]), []).append(i)
    bag_reps = [rep[idx] for idx in bags.values()]

    def att():
        for m in bag_reps:
            bag_attention_eval(m, W)

    n = len(instances)
    return {
        "tokenize.rows_per_s": _rate(lambda: encode_tokens_batch(*args), n, seconds),
        "kernel.cnn_rows_per_s": _rate(lambda: sentence_scores(batch, W), n, seconds),
        "kernel.bag_att_rows_per_s": _rate(att, n, seconds),
    }


# Wall time of the reference job on the 4-core box when its host was
# calm. Normalised times are scaled to a host on which the job takes
# this long, so they read close to seconds there.
REF_NOMINAL_S = 1.13


def _ref_batches(batches):
    """Fixed Python work per row: string splitting, a dict build and a
    small float32 matrix product, like a scoring worker's mix."""
    import pandas as pd

    a = np.random.default_rng(0).standard_normal((48, 48)).astype(np.float32)
    for pdf in batches:
        acc = 0.0
        for _ in range(len(pdf)):
            toks = " ".join(f"w{j}" for j in range(300)).split()
            acc += len({t: len(t) for t in toks})
            acc += float((a @ a).sum())
        yield pd.DataFrame({"acc": [acc]})


class HostRef:
    """Wall time of a fixed reference job on the current session: a
    Python stage on every core, then a JVM hash aggregate. It uses only
    pyspark, pandas and numpy, never the package under test, so a change
    to the program cannot move it; a change in the shared host's speed
    moves it and the operation alike. Its Python stage is a
    ``mapInPandas``, so it shares the operations' pool of Python
    workers and adds none to their resident memory."""

    def __init__(self, spark, cores: int, scale: int = 4000):
        self.spark = spark
        self.cores = cores
        self.scale = scale
        self._job(scale // 8)  # untimed: JIT and workers for the job's paths

    def _job(self, scale: int) -> None:
        n = self.cores
        self.spark.range(0, scale * n, 1, 2 * n).mapInPandas(
            _ref_batches, "acc double").collect()
        self.spark.range(0, 10_000 * scale, 1, 2 * n).selectExpr(
            "bit_xor(xxhash64(id, id * 3))").collect()

    def measure(self) -> float:
        t0 = time.perf_counter()
        self._job(self.scale)
        return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def worker_rss_bytes(jvm_pid: int) -> int:
    """Summed resident memory of the PySpark daemon and workers under
    the JVM."""
    kids = _children()
    total, stack = 0, list(kids.get(jvm_pid, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except OSError:
            continue
        if b"pyspark" in cmd:
            total += rss_pages * page
    return total


class RssSampler:
    """Peak of ``worker_rss_bytes`` sampled every ``period`` seconds on
    a background thread between ``start`` and ``stop``."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, worker_rss_bytes(self.jvm_pid))
            self._stop.wait(self.period)

    def start(self):
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        return self.peak
