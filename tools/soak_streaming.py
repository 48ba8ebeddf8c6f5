"""Streaming soak harness (r4 verdict #9): run the incremental
near-dup screen and the quality gate for a few hundred micro-batches
and PROVE two properties the unit tests can't see:

1. FLAT STORAGE: executor storage memory holds exactly the corpus
   index (2 checkpointed datasets for the near-dup screen, 0 for the
   stateless gate) no matter how many batches run — the r4 ADVICE
   cache-leak class (one dead cached pair pinned per micro-batch)
   would show as persisted-RDD count growing with batch count.
2. EXACTLY-ONCE UNDER CRASHES: a foreachBatch that dies before the
   first sink commit, between the two sink commits, and after both
   commits (before the checkpoint records the batch) must, after
   restart + replay, leave both sinks with exactly the no-crash row
   counts — no loss, no double-append.

Usage: SPARK_GRAFT_CPUS=16 python tools/soak_streaming.py [N_BATCHES]
Writes a summary log to stdout; exit 0 iff every assertion held.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F

from graphdbetl_spark.session import get_spark

SCHEMA = "doc_id long, text string"


def release_unreferenced(spark) -> None:
    """Let the ContextCleaner free the blocks of frames the driver no
    longer references: Python GC drops the py4j handles, JVM GC then
    collects the RDDs (two rounds: a stopped stream's batch function
    holds the index frames until its JVM proxy is collected)."""
    import gc

    for _ in range(2):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)


def storage_snapshot(spark):
    """(n_cached_rdds, mem_used_bytes) from the JVM block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() for i in infos)


def _neardup_row(doc_id: int) -> str:
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    if doc_id % 2 == 0:
        return base + f" tail{doc_id % 2}"
    return f"novel document {doc_id} with unique words w{doc_id}a w{doc_id}b w{doc_id}c"


_QUALITY_PASS = (
    "the data pipeline and the spark engine have been running with a steady "
    "flow of fresh tokens that keep arriving from every source while the "
    "quality gate checks each document against the word rules and the "
    "entropy floor so that only reasonable text moves forward to training "
    "and the rest lands in a reject dataset with an audit reason for later "
    "review by the curation team"
)  # 60+ words, mean word length ~4.6, plenty of stopwords, high entropy


def _quality_row(doc_id: int) -> str:
    """3 of 5 docs per batch PASS the gopher+entropy gate, 2 REJECT
    (one too short for the 50-word rule, one low-entropy repetition) —
    r5 ADVICE: the original fixture produced pass=0, so the pass-side
    sink path was never exercised."""
    mod = doc_id % 5
    if mod < 3:
        return _QUALITY_PASS + f" shard marker {doc_id}"
    if mod == 3:
        return f"tiny doc {doc_id}"
    return ("aa bb " * 40) + str(doc_id)  # 80 words, ~1.7 bits/char


_EVAL_SENTENCE = (
    "the held out benchmark question asks which river flows through the "
    "old capital city"
)


def _decon_row(doc_id: int) -> str:
    """Every 3rd doc shares a 5-gram with the static eval set
    (contaminated); the rest are clean unique text."""
    if doc_id % 3 == 0:
        return f"scraped page {doc_id} quoting {_EVAL_SENTENCE} verbatim"
    return (
        f"clean article {doc_id} about topic t{doc_id} with words "
        f"x{doc_id}a x{doc_id}b x{doc_id}c x{doc_id}d x{doc_id}e"
    )


def make_batch_files(
    spark, src: str, stage: str, n_batches: int, per_batch: int = 5,
    row_fn=_neardup_row,
):
    """One small parquet file per micro-batch; deterministic contents
    from ``row_fn(doc_id) -> text``."""
    os.makedirs(src, exist_ok=True)
    for b in range(n_batches):
        rows = [
            (b * per_batch + i, row_fn(b * per_batch + i)) for i in range(per_batch)
        ]
        df = spark.createDataFrame(rows, SCHEMA)
        tmp = os.path.join(stage, f"b{b}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), os.path.join(src, f"b{b:05d}.parquet"))


def run_neardup_soak(spark, root: str, n_batches: int) -> None:
    from graphdbetl_spark.streaming.curation import start_streaming_neardup_screen

    src = os.path.join(root, "nd_src")
    make_batch_files(spark, src, os.path.join(root, "nd_stage"), n_batches)
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame(
        [(10_000 + i, base + f" tail{i % 2}") for i in range(8)], SCHEMA
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_streaming_neardup_screen(
        stream,
        corpus,
        "text",
        "doc_id",
        os.path.join(root, "nd_unique"),
        os.path.join(root, "nd_dup"),
        os.path.join(root, "nd_ck"),
        trigger_once=False,
    )
    samples = []
    baseline = None
    try:
        while True:
            time.sleep(2.0)
            p = q.lastProgress
            done = int(p["batchId"]) if p else -1
            snap = storage_snapshot(spark)
            samples.append((done, *snap))
            if baseline is None and done >= 1:
                baseline = snap
            if done >= n_batches - 1 and not q.status["isDataAvailable"]:
                break
    finally:
        q.stop()
    ud = spark.read.parquet(os.path.join(root, "nd_unique"))
    dd = spark.read.parquet(os.path.join(root, "nd_dup"))
    n_u, n_d = ud.count(), dd.count()
    # ground truth: the batch-mode incremental screen on the same docs
    from graphdbetl_spark.operators.dedup import minhash_incremental_md5

    all_docs = spark.read.parquet(src)
    flags = {
        r["doc_id"]: r["is_near_dup"]
        for r in minhash_incremental_md5(corpus, all_docs, "text", "doc_id").collect()
    }
    exp_d = sum(flags.values())
    exp_u = len(flags) - exp_d
    print(f"neardup soak: {n_batches} batches, unique={n_u} dup={n_d} "
          f"(batch-mode ground truth {exp_u}/{exp_d})")
    for done, n_rdd, mem in samples[:: max(1, len(samples) // 10)]:
        print(f"  batch={done:5d} cached_rdds={n_rdd} storage_mem={mem}")
    assert (n_u, n_d) == (exp_u, exp_d), "streaming routing != batch screen"
    got_dup_ids = {r["doc_id"] for r in dd.select("doc_id").collect()}
    assert got_dup_ids == {d for d, v in flags.items() if v}
    # 2 corpus-index datasets + at most ONE transient in-flight routed
    # batch (pinned in process() for its two writes) — growth
    # WITH batch count is the leak signature, a bounded +1 is not
    peak = max(s[1] for s in samples)
    assert peak <= 3, f"cached-RDD count grew to {peak} (index 2 + 1 in-flight)"
    assert samples[-1][1] <= 2, "in-flight cache leaked past the stream's end"
    if baseline:
        final_mem = samples[-1][2]
        assert final_mem <= baseline[1] * 1.05 + 1_000_000, (
            f"storage memory grew {baseline[1]} -> {final_mem}"
        )
    print("  FLAT: storage = 2 corpus-index datasets (+<=1 in-flight), no growth")


def run_quality_soak(spark, root: str, n_batches: int) -> None:
    from graphdbetl_spark.streaming.curation import start_streaming_quality_gate

    # the near-dup phase's corpus-index checkpoints live for ITS
    # stream's lifetime; this phase measures the stateless gate in
    # isolation
    release_unreferenced(spark)
    src = os.path.join(root, "qg_src")
    make_batch_files(
        spark, src, os.path.join(root, "qg_stage"), n_batches, row_fn=_quality_row
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_streaming_quality_gate(
        stream,
        "text",
        "doc_id",
        os.path.join(root, "qg_pass"),
        os.path.join(root, "qg_reject"),
        os.path.join(root, "qg_ck"),
        trigger_once=False,
    )
    peak = 0
    try:
        while True:
            time.sleep(2.0)
            p = q.lastProgress
            done = int(p["batchId"]) if p else -1
            peak = max(peak, storage_snapshot(spark)[0])
            if done >= n_batches - 1 and not q.status["isDataAvailable"]:
                break
    finally:
        q.stop()
    n_p = spark.read.parquet(os.path.join(root, "qg_pass")).count()
    n_r = spark.read.parquet(os.path.join(root, "qg_reject")).count()
    final = storage_snapshot(spark)[0]
    # per-side ground truth from the BATCH operators over all docs
    # (r5 ADVICE: assert each side's count, and exercise both sinks)
    from graphdbetl_spark.operators.curation import char_entropy, gopher_quality

    all_docs = spark.read.parquet(src)
    g = gopher_quality(all_docs, "text", "doc_id").select("doc_id", "passes")
    e = char_entropy(all_docs, "text", "doc_id", low=2.5).select(
        "doc_id", "low_entropy"
    )
    both = g.join(e, "doc_id")
    exp_p = both.filter(F.col("passes") & ~F.col("low_entropy")).count()
    exp_r = both.count() - exp_p
    print(f"quality soak: {n_batches} batches, pass={n_p} reject={n_r} "
          f"(batch-mode ground truth {exp_p}/{exp_r}), peak cached_rdds={peak}")
    assert (n_p, n_r) == (exp_p, exp_r), "streaming routing != batch gate"
    assert n_p > 0 and n_r > 0, "fixture must exercise BOTH sinks"
    # no reference state: at most the one transient in-flight routed
    # batch may appear; nothing may survive the stream
    assert peak <= 1, f"stateless gate pinned {peak} datasets"
    assert final == 0, "stateless gate leaked cache past the stream's end"
    print("  FLAT: the stateless gate pinned no storage beyond the in-flight batch")


def run_concurrent_soak(spark, root: str, n_batches: int) -> None:
    """TWO routers sharing one session for n_batches micro-batches
    each (r5 verdict #6): the stateless quality gate and the
    decontamination router (which owns a checkpointed eval reference)
    run CONCURRENTLY, and midway the incremental near-dup screen
    (minhash_incremental_md5, whose corpus index is two lineage-owned
    localCheckpoints) fires three times as a fire-and-forget batch
    job. Proves (a) both streams
    route exactly as their batch operators, (b) storage stays flat at
    the decontamination eval checkpoint (+bounded in-flight transients),
    and (c) the localCheckpoint lifecycle frees its blocks instead of
    interacting with — or leaking into — the concurrent consumers."""
    import gc

    from graphdbetl_spark.streaming.curation import (
        start_streaming_decontamination,
        start_streaming_quality_gate,
    )

    release_unreferenced(spark)
    src_q = os.path.join(root, "cc_q_src")
    src_d = os.path.join(root, "cc_d_src")
    make_batch_files(spark, src_q, os.path.join(root, "cc_q_stage"),
                     n_batches, row_fn=_quality_row)
    make_batch_files(spark, src_d, os.path.join(root, "cc_d_stage"),
                     n_batches, row_fn=_decon_row)
    eval_df = spark.createDataFrame(
        [(900_000, _EVAL_SENTENCE), (900_001, "another benchmark prompt "
          "asking about the tallest mountain on the southern continent")],
        SCHEMA,
    )
    sq = (spark.readStream.schema(SCHEMA)
          .option("maxFilesPerTrigger", "1").parquet(src_q))
    sd = (spark.readStream.schema(SCHEMA)
          .option("maxFilesPerTrigger", "1").parquet(src_d))
    qq = start_streaming_quality_gate(
        sq, "text", "doc_id",
        os.path.join(root, "cc_q_pass"), os.path.join(root, "cc_q_reject"),
        os.path.join(root, "cc_q_ck"), trigger_once=False,
    )
    qd = start_streaming_decontamination(
        sd, eval_df, "text", "doc_id",
        os.path.join(root, "cc_d_clean"), os.path.join(root, "cc_d_quar"),
        os.path.join(root, "cc_d_ck"), trigger_once=False,
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    ckpt_corpus = spark.createDataFrame(
        [(800_000 + i, base + f" tail{i % 2}") for i in range(8)], SCHEMA
    )
    ckpt_batch = spark.createDataFrame(
        [(1, base + " tail0"), (2, "wholly new content unlike anything")], SCHEMA
    )
    from graphdbetl_spark.operators.dedup import minhash_incremental_md5

    samples, ckpt_after = [], []
    fired = 0
    try:
        while True:
            time.sleep(2.0)
            pq_, pd_ = qq.lastProgress, qd.lastProgress
            done_q = int(pq_["batchId"]) if pq_ else -1
            done_d = int(pd_["batchId"]) if pd_ else -1
            samples.append((done_q, done_d, *storage_snapshot(spark)))
            lo = min(done_q, done_d)
            if fired < 3 and lo >= (fired + 1) * n_batches // 4:
                # checkpoint-mode screen mid-flight; drop refs + GC so
                # the ContextCleaner can free the checkpointed blocks
                out = minhash_incremental_md5(
                    ckpt_corpus, ckpt_batch, "text", "doc_id"
                ).collect()
                assert {r["doc_id"]: r["is_near_dup"] for r in out} == {
                    1: True, 2: False
                }
                fired += 1
                gc.collect()
                time.sleep(2.0)
                ckpt_after.append(storage_snapshot(spark))
            if (done_q >= n_batches - 1 and done_d >= n_batches - 1
                    and not qq.status["isDataAvailable"]
                    and not qd.status["isDataAvailable"]):
                break
    finally:
        qq.stop()
        qd.stop()
    assert fired == 3, f"checkpoint-mode screen fired {fired}/3 times"
    # both streams == their batch operators
    from graphdbetl_spark.operators.curation import (
        char_entropy,
        decontaminate_against_eval,
        gopher_quality,
    )

    all_q = spark.read.parquet(src_q)
    g = gopher_quality(all_q, "text", "doc_id").select("doc_id", "passes")
    e = char_entropy(all_q, "text", "doc_id", low=2.5).select("doc_id", "low_entropy")
    both = g.join(e, "doc_id")
    exp_p = both.filter(F.col("passes") & ~F.col("low_entropy")).count()
    exp_r = both.count() - exp_p
    n_p = spark.read.parquet(os.path.join(root, "cc_q_pass")).count()
    n_r = spark.read.parquet(os.path.join(root, "cc_q_reject")).count()
    all_d = spark.read.parquet(src_d)
    flags = decontaminate_against_eval(all_d, "text", "doc_id", eval_df, n=5)
    exp_quar = flags.filter(F.col("contaminated")).count()
    exp_clean = flags.count() - exp_quar
    n_c = spark.read.parquet(os.path.join(root, "cc_d_clean")).count()
    n_qr = spark.read.parquet(os.path.join(root, "cc_d_quar")).count()
    print(f"concurrent soak: {n_batches}+{n_batches} batches; "
          f"quality pass={n_p}/reject={n_r} (truth {exp_p}/{exp_r}); "
          f"decon clean={n_c}/quarantine={n_qr} (truth {exp_clean}/{exp_quar})")
    for s in samples[:: max(1, len(samples) // 10)]:
        print(f"  q_batch={s[0]:5d} d_batch={s[1]:5d} cached_rdds={s[2]} mem={s[3]}")
    print(f"  storage after each checkpoint-mode firing: {ckpt_after}")
    assert (n_p, n_r) == (exp_p, exp_r), "concurrent quality routing diverged"
    assert (n_c, n_qr) == (exp_clean, exp_quar), "concurrent decon routing diverged"
    assert n_p > 0 and n_r > 0 and n_c > 0 and n_qr > 0
    # storage budget: 1 eval checkpoint + <=1 in-flight routed batch per
    # stream + <=2 localCheckpoint blocks from a just-fired
    # checkpoint-mode screen (the ContextCleaner frees those
    # asynchronously after the refs drop — a bounded transient, not a
    # leak). The leak signatures are (a) the budget exceeded, (b) the
    # post-firing snapshots RATCHETING by ~2 per firing (blocks never
    # freed), or (c) anything but the eval checkpoint surviving both
    # streams' end.
    peak = max(s[2] for s in samples)
    assert peak <= 5, f"concurrent streams pinned {peak} datasets (budget 5)"
    assert samples[-1][2] <= 1, "cache leaked past both streams' end"
    for n_rdd, _ in ckpt_after:
        assert n_rdd <= 5, "localCheckpoint blocks exceeded the transient budget"
    assert ckpt_after[-1][0] <= ckpt_after[0][0] + 2, (
        "localCheckpoint blocks ratcheted across firings: "
        f"{[c[0] for c in ckpt_after]}"
    )
    print("  FLAT: eval checkpoint only at end; localCheckpoint firings left no residue")


def run_crash_matrix(spark, root: str) -> None:
    """Kill the near-dup router at each commit point of one batch, then
    restart with the same checkpoint: final counts must equal the
    no-crash ground truth."""
    import graphdbetl_spark.streaming.txn_sink as txn
    from graphdbetl_spark.streaming.curation import start_streaming_neardup_screen

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame(
        [(10_000 + i, base + f" tail{i % 2}") for i in range(8)], SCHEMA
    )
    real_write = txn.write_batch_exactly_once
    n_batches = 6
    for label, crash_call in (("before_first_sink", 0), ("between_sinks", 1),
                              ("after_both_sinks", 2)):
        root_c = os.path.join(root, f"crash_{label}")
        src = os.path.join(root_c, "src")
        make_batch_files(spark, src, os.path.join(root_c, "stage"), n_batches)
        unique, dup = os.path.join(root_c, "u"), os.path.join(root_c, "d")
        ckpt = os.path.join(root_c, "ck")
        state = {"calls": 0, "armed": True}

        def flaky(batch, batch_id, out_dir, _state=state, _crash=crash_call):
            # crash exactly once at the chosen commit point of batch 3:
            # 0 = before the first sink commits, 1 = between the two
            # commits, 2 = after BOTH commit (before the checkpoint
            # records the batch — the replay-after-success case)
            if batch_id == 3 and _state["armed"]:
                if _state["calls"] == _crash:
                    _state["armed"] = False
                    raise RuntimeError(f"injected crash at call {_crash}")
                _state["calls"] += 1
                ret = real_write(batch, batch_id, out_dir)
                if _state["calls"] == 2 and _crash == 2 and _state["armed"]:
                    _state["armed"] = False
                    raise RuntimeError("injected crash after both sinks")
                return ret
            return real_write(batch, batch_id, out_dir)

        txn.write_batch_exactly_once = flaky
        try:
            stream = (spark.readStream.schema(SCHEMA)
                      .option("maxFilesPerTrigger", "1").parquet(src))
            q = start_streaming_neardup_screen(
                stream, corpus, "text", "doc_id", unique, dup, ckpt,
                trigger_once=False,
            )
            try:
                q.awaitTermination(180)
            except Exception:
                pass  # the injected crash fails the query
            finally:
                if q.isActive:
                    q.stop()
            # restart: checkpoint replays the failed batch, sinks dedup
            stream2 = (spark.readStream.schema(SCHEMA)
                       .option("maxFilesPerTrigger", "1").parquet(src))
            q2 = start_streaming_neardup_screen(
                stream2, corpus, "text", "doc_id", unique, dup, ckpt,
                trigger_once=True,
            )
            q2.awaitTermination(180)
        finally:
            txn.write_batch_exactly_once = real_write
        from graphdbetl_spark.operators.dedup import minhash_incremental_md5

        flags = {
            r["doc_id"]: r["is_near_dup"]
            for r in minhash_incremental_md5(
                corpus, spark.read.parquet(src), "text", "doc_id"
            ).collect()
        }
        exp_d = sum(flags.values())
        exp_u = len(flags) - exp_d
        n_u = spark.read.parquet(unique).count()
        n_d = spark.read.parquet(dup).count()
        ids_u = [r[0] for r in spark.read.parquet(unique).select("doc_id").collect()]
        assert len(ids_u) == len(set(ids_u)), f"{label}: duplicated rows in unique"
        assert (n_u, n_d) == (exp_u, exp_d), (
            f"{label}: counts {n_u}/{n_d} != {exp_u}/{exp_d}"
        )
        print(f"crash matrix [{label}]: exactly-once held ({n_u}/{n_d})")


def main() -> int:
    if sys.argv[1:] and not sys.argv[1].isdigit():
        raise SystemExit(__doc__)
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    root = tempfile.mkdtemp(prefix="graft_soak_")
    spark = get_spark("streaming-soak")
    try:
        run_neardup_soak(spark, root, n_batches)
        run_quality_soak(spark, root, max(50, n_batches // 4))
        run_concurrent_soak(spark, root, n_batches)
        run_crash_matrix(spark, root)
        print("SOAK OK")
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
