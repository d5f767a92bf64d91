"""Streaming ingest: the stateless triple log drained via availableNow must
equal the batch emitters' stateless families (a strict subset of the batch
result), and compaction must converge to the exact batch triple set
(= oracle set)."""

import tempfile

import pytest

from claimskg_generator_spark.operators.mentions import (
    review_and_body_mention_triples,
)
from claimskg_generator_spark.operators.row_triples import (
    single_pass_row_triples,
)
from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.sources.synth import gen_rows
from claimskg_generator_spark.streaming.ingest import (
    compact_triple_log,
    stream_triples,
)

N = 120


@pytest.fixture(scope="module")
def dirs(spark):
    base = tempfile.mkdtemp(prefix="claimskg_stream_")
    inp = f"{base}/input"
    spark.createDataFrame(gen_rows(N)).repartition(4).write.parquet(inp)
    return {
        "input": inp,
        "log": f"{base}/log",
        "ckpt": f"{base}/ckpt",
        "compacted": f"{base}/compacted",
    }


def test_stream_then_compact_converges(spark, dirs):
    q = stream_triples(spark, dirs["input"], dirs["log"], dirs["ckpt"])
    q.awaitTermination(300)

    log = spark.read.parquet(dirs["log"])
    input_df = spark.read.parquet(dirs["input"])
    batch = ClaimsKGPipeline(spark).triples(input_df)
    batch_set = {tuple(r) for r in batch.collect()}
    log_set = {tuple(r) for r in log.collect()}
    # stateless families only -> strict subset (no keyword/static families)
    assert log_set and log_set < batch_set
    # ... and exactly the batch emitters' stateless families
    cfg = PipelineConfig(materialize_parsed=False)
    claims = ClaimsKGPipeline(spark, cfg).claims(input_df)
    stateless = single_pass_row_triples(
        claims, cfg.model_uri, cfg.include_body, cfg.threshold
    ).unionByName(
        review_and_body_mention_triples(claims, cfg.model_uri, cfg.threshold)
    )
    assert log_set == {tuple(r) for r in stateless.collect()}

    compacted = compact_triple_log(
        spark, dirs["input"], dirs["log"], dirs["compacted"]
    )
    assert {tuple(r) for r in compacted.collect()} == batch_set


def test_stream_is_incremental(spark, dirs):
    # a second availableNow run with no new files adds nothing
    before = spark.read.parquet(dirs["log"]).count()
    q = stream_triples(spark, dirs["input"], dirs["log"], dirs["ckpt"])
    q.awaitTermination(120)
    after = spark.read.parquet(dirs["log"]).count()
    assert after == before


def test_streaming_keyword_winners_match_batch(spark):
    """The stateful applyInPandasWithState winner memo converges to the
    batch first-writer-wins answer when fed the corpus in two chunks."""
    import os

    from pyspark.sql import functions as F

    from claimskg_generator_spark.operators.keywords import exploded_keywords
    from claimskg_generator_spark.streaming.keyword_state import (
        current_winners,
        streaming_keyword_winners,
    )

    base = tempfile.mkdtemp(prefix="claimskg_kwstate_")
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    os.makedirs(in_dir)
    rows = gen_rows(N)
    # two ord-ordered chunks, as an append log would deliver them
    spark.createDataFrame(rows[:60]).coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming_keyword_winners(spark, in_dir, ck, out_dir)
    q.awaitTermination(120)
    spark.createDataFrame(rows[60:]).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = streaming_keyword_winners(spark, in_dir, ck, out_dir)
    q2.awaitTermination(120)

    got = {
        (r["kw_uri"], r["win_ord"])
        for r in current_winners(spark, out_dir).collect()
    }

    pipe = ClaimsKGPipeline(spark)
    ex = exploded_keywords(pipe.claims(spark.createDataFrame(rows)),
                           pipe.config.model_uri)
    want = {
        (r["kw_uri"], r["win_ord"])
        for r in ex.withColumn("has_match", F.size("matched") > 0)
        .groupBy("kw_uri")
        .agg(F.min(F.when(F.col("has_match"), F.col("ord"))).alias("win_ord"))
        .filter(F.col("win_ord").isNotNull())
        .collect()
    }
    assert want, "corpus produced no keyword winners"
    assert got == want


def test_streaming_exact_dedup_matches_batch(spark):
    """The stateful survivor memo converges to the batch exact_duplicates
    answer when the document log arrives in two out-of-order chunks."""
    import os

    from claimskg_generator_spark.operators.dedup import exact_duplicates
    from claimskg_generator_spark.streaming.dedup_state import (
        current_survivors,
        streaming_exact_dedup,
    )

    base = tempfile.mkdtemp(prefix="claimskg_dedupstate_")
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    os.makedirs(in_dir)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    schema = docs.schema
    # DESCENDING halves: the true survivor (min doc_id) of many groups
    # arrives in the SECOND chunk, exercising the state-improvement path
    hi = docs.where("doc_id >= 25")
    lo = docs.where("doc_id < 25")
    hi.coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming_exact_dedup(spark, in_dir, ck, out_dir, schema)
    q.awaitTermination(120)
    lo.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = streaming_exact_dedup(spark, in_dir, ck, out_dir, schema)
    q2.awaitTermination(120)

    got = {(r["fingerprint"], r["survivor_id"])
           for r in current_survivors(spark, out_dir).collect()}
    want = {(r["fingerprint"], r["survivor_id"])
            for r in exact_duplicates(docs)
            .select("fingerprint", "survivor_id").distinct().collect()}
    assert got == want

    # a third availableNow run with no new files adds nothing
    before = spark.read.parquet(out_dir).count()
    q3 = streaming_exact_dedup(spark, in_dir, ck, out_dir, schema)
    q3.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == before


def test_streaming_minhash_neardup_matches_batch(spark):
    """Stateful LSH near-dup pair generation converges to the batch
    minhash_lsh_pairs answer when the document log arrives in two chunks
    (pairs spanning the chunks exercise the new-vs-prior-member path)."""
    import os

    from claimskg_generator_spark.operators.dedup import minhash_lsh_pairs
    from claimskg_generator_spark.streaming.neardup_state import (
        current_neardup_pairs,
        streaming_minhash_neardup,
    )

    base = tempfile.mkdtemp(prefix="claimskg_neardup_")
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    os.makedirs(in_dir)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    schema = docs.schema
    hi = docs.where("doc_id >= 250")
    lo = docs.where("doc_id < 250")
    hi.coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming_minhash_neardup(spark, in_dir, ck, out_dir, schema)
    q.awaitTermination(180)
    lo.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = streaming_minhash_neardup(spark, in_dir, ck, out_dir, schema)
    q2.awaitTermination(180)

    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in current_neardup_pairs(spark, out_dir).collect()}
    want = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs).collect()}
    assert want, "batch near-dup answer empty — corpus fixture too weak"
    assert got == want

    # each unordered pair appended in exactly one trigger: raw log is a set
    raw = spark.read.parquet(out_dir)
    assert raw.count() == raw.dropDuplicates(["id_a", "id_b"]).count()

    # a third availableNow run with no new files adds nothing
    q3 = streaming_minhash_neardup(spark, in_dir, ck, out_dir, schema)
    q3.awaitTermination(180)
    assert spark.read.parquet(out_dir).count() == raw.count()


def test_streaming_neardup_max_bucket_caps_state(spark):
    """max_bucket bounds both state and emission: with a cap of 2, a
    bucket of 4 identical docs emits only the first pair."""
    import os

    from claimskg_generator_spark.streaming.neardup_state import (
        streaming_minhash_neardup,
    )
    from pyspark.sql import types as T

    base = tempfile.mkdtemp(prefix="claimskg_neardupcap_")
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    os.makedirs(in_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    txt = "the same exact document text repeated for every row here"
    docs = spark.createDataFrame([(i, txt) for i in range(4)], schema)
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming_minhash_neardup(spark, in_dir, ck, out_dir, schema,
                                  max_bucket=2)
    q.awaitTermination(180)
    got = {(r["id_a"], r["id_b"])
           for r in spark.read.parquet(out_dir)
           .select("id_a", "id_b").distinct().collect()}
    assert got == {(0, 1)}


def test_streaming_simhash_neardup_matches_batch(spark):
    """Stateful pigeonhole-table SimHash near-dup converges to the batch
    simhash_near_dups answer across out-of-order chunks; verification
    (hamming) happens inside the state update, no document-log read."""
    import os

    from claimskg_generator_spark.operators.dedup import simhash_near_dups
    from claimskg_generator_spark.streaming.simhash_state import (
        current_simhash_pairs,
        streaming_simhash_neardup,
    )

    base = tempfile.mkdtemp(prefix="claimskg_simhashstate_")
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    os.makedirs(in_dir)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    schema = docs.schema
    docs.where("doc_id >= 250").coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming_simhash_neardup(spark, in_dir, ck, out_dir, schema)
    q.awaitTermination(180)
    docs.where("doc_id < 250").coalesce(1).write.mode("append").parquet(in_dir)
    q2 = streaming_simhash_neardup(spark, in_dir, ck, out_dir, schema)
    q2.awaitTermination(180)

    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in current_simhash_pairs(spark, out_dir).collect()}
    want = {(r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dups(docs).collect()}
    assert want, "batch simhash answer empty — corpus fixture too weak"
    assert got == want

    # pair-per-trigger uniqueness holds for the raw log too
    raw = spark.read.parquet(out_dir)
    assert raw.count() == raw.dropDuplicates(["id_a", "id_b"]).count()


def test_streaming_embedding_neardup_matches_batch(spark):
    """Stateful hyperplane-LSH embedding near-dup converges to the batch
    lsh_cosine_pairs answer across out-of-order chunks."""
    import os

    from claimskg_generator_spark.operators.similarity import lsh_cosine_pairs
    from claimskg_generator_spark.streaming.embed_neardup_state import (
        current_embedding_pairs,
        streaming_embedding_neardup,
    )

    base = tempfile.mkdtemp(prefix="claimskg_embstate_")
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    os.makedirs(in_dir)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    schema = emb.schema
    kw = dict(dim=64, bands=4, planes_per_band=8, threshold=0.25, seed=11)
    emb.where("vec_id >= 250").coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming_embedding_neardup(spark, in_dir, ck, out_dir, schema, **kw)
    q.awaitTermination(180)
    emb.where("vec_id < 250").coalesce(1).write.mode("append").parquet(in_dir)
    q2 = streaming_embedding_neardup(spark, in_dir, ck, out_dir, schema, **kw)
    q2.awaitTermination(180)

    got = {(r["id_a"], r["id_b"], r["cosine"])
           for r in current_embedding_pairs(spark, out_dir).collect()}
    want = {(r["id_a"], r["id_b"], r["cosine"])
            for r in lsh_cosine_pairs(emb, **kw).collect()}
    assert want, "batch embedding near-dup answer empty — fixture too weak"
    assert got == want

    raw = spark.read.parquet(out_dir)
    assert raw.count() == raw.dropDuplicates(["id_a", "id_b"]).count()


def test_watermarked_window_agg_emits_and_drops_late(spark):
    """Watermark + tumbling-window agg (streaming/windowed.py): finalized
    windows emit exactly once across availableNow drains, and a row
    arriving later than the persisted watermark is dropped — never
    counted, even though its window is emitted afterwards."""
    import datetime as dt
    import os
    import tempfile

    from claimskg_generator_spark.streaming.windowed import (
        windowed_event_counts,
    )

    base = tempfile.mkdtemp(prefix="claimskg_window_")
    inp, out, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    os.makedirs(inp, exist_ok=True)

    def t(minute, second=0):
        return dt.datetime(2024, 1, 1, 10, minute, second)

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(inp)

    def drain():
        q = windowed_event_counts(spark, inp, out, ck)
        q.awaitTermination(180)

    # run 1: window [10:00,10:10) gets 2 clicks; max ts 10:19 -> watermark
    # persists at 10:14 (19 - 5 delay); nothing finalized yet
    write([(1, t(1), 1, "click", 1.0), (2, t(4), 1, "click", 2.0),
           (3, t(19), 2, "view", 1.0)])
    drain()

    # run 2: a LATE click at 10:02 (older than the 10:14 watermark ->
    # dropped) plus fresh data at 10:25; [10:00,10:10) is finalized NOW,
    # without the late row
    write([(4, t(2), 3, "click", 100.0), (5, t(25), 2, "view", 1.0)])
    drain()

    # run 3: push the watermark past 10:20 so [10:10,10:20) finalizes too
    write([(6, t(40), 2, "view", 1.0)])
    drain()

    rows = {
        (r["win_start"], r["event_type"]): r
        for r in spark.read.parquet(out).collect()
    }
    first = rows[(t(0), "click")]
    # the late 10:02 click (value 100.0) must NOT be in the finalized window
    assert first["n_events"] == 2
    assert first["sum_value"] == 3.0
    assert rows[(t(10), "view")]["n_events"] == 1
    # each finalized window emitted exactly once across the three drains
    all_rows = spark.read.parquet(out).collect()
    assert len(all_rows) == len(rows)


def test_streaming_sessionization_matches_batch_semantics(spark):
    """session_window + watermark: sessions merge across drains while
    open, emit exactly once when closed, and match the batch gap
    semantics (q13's 30-minute rule) for every closed session."""
    import datetime as dt
    import os
    import tempfile

    from claimskg_generator_spark.streaming.windowed import (
        sessionized_event_counts,
    )

    base = tempfile.mkdtemp(prefix="claimskg_sess_")
    inp, out, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    os.makedirs(inp, exist_ok=True)

    def t(hour, minute=0):
        return dt.datetime(2024, 1, 1, hour, minute)

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(inp)

    def drain():
        q = sessionized_event_counts(spark, inp, out, ck, gap="30 minutes")
        q.awaitTermination(180)

    # user 1: events at 10:00 and 10:20 chain one session (gap < 30 min);
    # 11:30 starts another.  user 2: single event.
    write([(1, t(10, 0), 1, "click", 1.0), (2, t(10, 20), 1, "click", 1.0),
           (3, t(10, 5), 2, "view", 2.0)])
    drain()
    # 11:30 closes user 1's first session (watermark passes 10:50) and
    # opens a new one; 13:00 in the next drain closes everything open
    write([(4, t(11, 30), 1, "click", 5.0)])
    drain()
    write([(5, t(13, 0), 3, "view", 1.0), (6, t(14, 0), 3, "view", 1.0)])
    drain()
    write([(7, t(16, 0), 4, "view", 1.0)])
    drain()

    rows = {
        (r["user_id"], r["sess_start"]): r
        for r in spark.read.parquet(out).collect()
    }
    s1 = rows[(1, t(10, 0))]
    assert s1["n_events"] == 2
    assert s1["sess_end"] == t(10, 50)   # last event + gap
    assert s1["sum_value"] == 2.0
    assert rows[(2, t(10, 5))]["n_events"] == 1
    assert rows[(1, t(11, 30))]["n_events"] == 1
    # sessions are emitted exactly once
    all_rows = spark.read.parquet(out).collect()
    assert len(all_rows) == len(rows)


def test_snapshot_sink_exactly_once(spark):
    """Streaming micro-batches land as atomic snapshot-table commits;
    replayed epochs are no-ops (epoch id rides inside the commit), and a
    second drain with no new files adds nothing."""
    import tempfile

    from claimskg_generator_spark.sources.snapshot_table import SnapshotTable
    from claimskg_generator_spark.sources.synth import INPUT_SCHEMA
    from claimskg_generator_spark.streaming.snapshot_sink import (
        SnapshotTableStreamWriter,
        committed_stream_batch_ids,
        write_stream_to_snapshot_table,
    )

    base = tempfile.mkdtemp(prefix="claimskg_snapsink_")
    inp = f"{base}/input"
    spark.createDataFrame(gen_rows(40)).repartition(2).write.parquet(inp)
    stream = (spark.readStream.schema(INPUT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    q = write_stream_to_snapshot_table(
        stream, f"{base}/table", f"{base}/ckpt", stat_cols=["path"])
    q.awaitTermination(300)

    t = SnapshotTable(spark, f"{base}/table")
    got = t.read().count()
    assert got == 40
    epochs = committed_stream_batch_ids(t)
    assert epochs and len(epochs) == len(t.snapshots())
    # every snapshot carries its epoch inside the committed manifest
    appends = [t.manifest(s["snapshot_id"]) for s in t.snapshots()]
    assert all(m["operation"] == "append"
               and len(m["stream_batch_ids"]) == 1 for m in appends)
    assert {m["stream_batch_ids"][0] for m in appends} == epochs

    # direct replay of an already-committed epoch: no-op
    w = SnapshotTableStreamWriter(spark, f"{base}/table")
    cols = [c for c, _t in
            ((cc[0], cc[1]) for cc in t.manifest()["schema"])]
    before = t.current_snapshot_id()
    w(spark.createDataFrame(gen_rows(5)).select(*cols),
      batch_id=min(epochs))
    assert t.current_snapshot_id() == before

    # second availableNow drain with no new input: nothing changes
    q2 = write_stream_to_snapshot_table(
        stream, f"{base}/table", f"{base}/ckpt")
    q2.awaitTermination(120)
    assert t.read().count() == 40

    # a FRESH epoch via the writer commits atomically with its id
    w(spark.createDataFrame(gen_rows(5)).select(*cols),
      batch_id=max(epochs) + 1000)
    assert t.read().count() == 45
    assert max(epochs) + 1000 in committed_stream_batch_ids(t)


def test_streaming_scd2_join_matches_batch(spark):
    """Stream-static SCD2 enrichment: facts delivered in two chunks
    through the availableNow file stream converge to the batch
    scd2_join answer (incl. gap/expiry nulls and late facts enriched
    with the version valid at THEIR timestamp)."""
    import os

    from claimskg_generator_spark.operators.asof import scd2_join
    from claimskg_generator_spark.streaming.scd2_stream import (
        streaming_scd2_join,
    )

    base = tempfile.mkdtemp(prefix="claimskg_scd2stream_")
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    os.makedirs(in_dir)

    dim = spark.createDataFrame(
        [
            (1, "bronze", 10, 20),   # gap [20, 30)
            (1, "gold", 30, None),
            (2, "silver", 5, None),
        ],
        "user_id long, tier string, valid_from long, valid_to long",
    )
    import random

    rng = random.Random(37)
    facts = [(i, rng.choice([1, 1, 2, 3]), rng.randrange(0, 50))
             for i in range(80)]
    fdf = spark.createDataFrame(facts, "fid long, user_id long, ts long")

    # chunk 1 (first 50 facts, out of time order on purpose), drain
    spark.createDataFrame(facts[:50], fdf.schema).coalesce(1).write.mode(
        "append").parquet(in_dir)
    q = streaming_scd2_join(spark, in_dir, dim, ck, out_dir,
                            on=["user_id"], fact_ts="ts")
    q.awaitTermination(120)
    # chunk 2 (late facts with EARLIER timestamps), drain again
    spark.createDataFrame(facts[50:], fdf.schema).coalesce(1).write.mode(
        "append").parquet(in_dir)
    q2 = streaming_scd2_join(spark, in_dir, dim, ck, out_dir,
                             on=["user_id"], fact_ts="ts")
    q2.awaitTermination(120)

    got = {(r["fid"], r["tier_dim"], r["valid_from_dim"])
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r["fid"], r["tier_dim"], r["valid_from_dim"])
            for r in scd2_join(fdf, dim, on=["user_id"],
                               fact_ts="ts").collect()}
    assert len(got) == len(facts)
    assert got == want


def test_streaming_cdc_apply_matches_batch(spark):
    """CDC micro-batches delivered OUT of timestamp order through the
    availableNow file stream converge to the batch cdc_apply fold:
    late-arriving older updates lose to the state row, tombstones
    block resurrection, and the final snapshot equals the one-shot
    batch MERGE over the full change log."""
    import os
    import random

    from claimskg_generator_spark.operators.cdc import cdc_apply
    from claimskg_generator_spark.streaming.cdc_stream import (
        CdcSnapshotMaintainer,
        streaming_cdc_apply,
    )

    base = tempfile.mkdtemp(prefix="claimskg_cdcstream_")
    in_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
    os.makedirs(in_dir)

    target = spark.createDataFrame(
        [(k, f"name{k}", k * 10) for k in range(30)],
        "k long, name string, score long")

    rng = random.Random(11)
    changes = []
    ts = 0
    for _ in range(60):
        ts += 1
        k = rng.randrange(0, 40)  # keys 30..39 are pure inserts
        if rng.random() < 0.25:
            changes.append((k, ts, "D", None, None))
        else:
            changes.append((k, ts, "U", f"v{ts}", ts * 100))
    sch = "k long, ts long, op string, name string, score long"
    cdf = spark.createDataFrame(changes, sch)

    m = CdcSnapshotMaintainer(spark, tbl, key="k",
                              value_cols=["name", "score"])
    m.seed(target, seed_ts=0)

    # three chunks, shuffled so batches arrive out of ts order
    shuffled = changes[:]
    rng.shuffle(shuffled)
    for i, chunk in enumerate(
            (shuffled[:20], shuffled[20:40], shuffled[40:])):
        spark.createDataFrame(chunk, sch).coalesce(1).write.mode(
            "append").parquet(in_dir)
        q, _ = streaming_cdc_apply(
            spark, in_dir, tbl, ck, key="k",
            value_cols=["name", "score"], maintainer=m)
        q.awaitTermination(120)

    got = {(r["k"], r["name"], r["score"])
           for r in m.snapshot().collect()}
    want = {(r["k"], r["name"], r["score"])
            for r in cdc_apply(target, cdf, key="k").collect()}
    assert got == want and len(got) > 10

    # replaying an already-applied batch is a no-op on the live view
    m(spark.createDataFrame(shuffled[40:], sch), batch_id=99)
    again = {(r["k"], r["name"], r["score"])
             for r in m.snapshot().collect()}
    assert again == got

    # time travel: the state table kept every micro-batch version
    assert len(m.table.snapshots()) >= 4


def test_histogram_sketch_stream_converges_and_epoch_idempotent(spark):
    """Streaming histogram maintenance: after draining value chunks in
    any order, the merged register view and the quantile estimates
    equal the one-shot batch sketch; a replayed epoch is a no-op
    (additive counts are NOT latest-wins — the epoch contract is what
    carries exactly-once here); compaction preserves both the view and
    the replay guard."""
    import os
    import random

    from claimskg_generator_spark.operators.sketches import (
        histogram_quantiles,
        histogram_registers,
    )
    from claimskg_generator_spark.streaming.sketch_stream import (
        HistogramSketchMaintainer,
        stream_histogram_sketch,
    )

    base = tempfile.mkdtemp(prefix="claimskg_histstream_")
    in_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
    os.makedirs(in_dir)

    rng = random.Random(5)
    rows = [("g" if rng.random() < 0.7 else "h", rng.uniform(-50, 1200))
            for _ in range(900)]
    sch = "grp string, v double"
    LO, HI, BINS, QS = 0.0, 1000.0, 50, [0.5, 0.9, 0.99]

    m = HistogramSketchMaintainer(spark, tbl, "v", LO, HI, BINS,
                                  by=["grp"])
    chunks = [rows[:300], rows[300:600], rows[600:]]
    rng.shuffle(chunks)
    for chunk in chunks:
        spark.createDataFrame(chunk, sch).coalesce(1).write.mode(
            "append").parquet(in_dir)
        q, _ = stream_histogram_sketch(
            spark, in_dir, tbl, ck, "v", LO, HI, BINS, by=["grp"],
            maintainer=m)
        q.awaitTermination(120)

    whole = spark.createDataFrame(rows, sch)
    key = lambda df: {  # noqa: E731
        (r["grp"], r["bin"]): r["cnt"] for r in df.collect()}
    want_regs = key(histogram_registers(whole, "v", LO, HI, BINS,
                                        by=["grp"]))
    assert key(m.registers()) == want_regs

    est = lambda df: {  # noqa: E731
        (r["grp"], r["q"]): r["est"] for r in df.collect()}
    want_q = est(histogram_quantiles(
        histogram_registers(whole, "v", LO, HI, BINS, by=["grp"]),
        LO, HI, BINS, QS, by=["grp"]))
    assert est(m.quantiles(QS)) == want_q

    # replayed epoch (same batch_id): skipped before any write
    seen_id = next(iter(m._seen))
    m(spark.createDataFrame(rows[:300], sch), batch_id=seen_id)
    assert key(m.registers()) == want_regs

    # compaction folds partials to one base; view and guard survive a
    # FRESH maintainer (the epoch set is re-read from the parent chain)
    m.compact_registers()
    assert key(m.registers()) == want_regs
    m2 = HistogramSketchMaintainer(spark, tbl, "v", LO, HI, BINS,
                                   by=["grp"])
    m2(spark.createDataFrame(rows[:300], sch), batch_id=seen_id)
    assert key(m2.registers()) == want_regs


def test_code_kg_stream_converges_and_epoch_idempotent(spark):
    """Streaming code-KG maintenance: after draining file chunks in any
    order, the merge-on-read graph equals the one-shot batch extraction
    (set union is the monoid); a replayed epoch is a no-op; compaction
    dedupes storage while preserving the graph AND the replay guard for
    a fresh maintainer."""
    import os
    import random

    from claimskg_generator_spark.operators.code_kg import code_triples
    from claimskg_generator_spark.sources.codesynth import code_files
    from claimskg_generator_spark.streaming.code_kg_stream import (
        CodeKGMaintainer,
        stream_code_kg,
    )

    base = tempfile.mkdtemp(prefix="claimskg_codekgstream_")
    in_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
    os.makedirs(in_dir)

    docs = [(i, f"alpha beta gamma delta{i} epsilon zeta") for i in
            range(90)]
    sch = "doc_id bigint, text string"
    all_files = code_files(spark.createDataFrame(docs, sch))
    fsch = all_files.schema

    m = CodeKGMaintainer(spark, tbl)
    chunks = [docs[:30], docs[30:60], docs[60:]]
    random.Random(7).shuffle(chunks)
    for chunk in chunks:
        code_files(spark.createDataFrame(chunk, sch)).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q, _ = stream_code_kg(spark, in_dir, tbl, ck,
                              files_schema=fsch, maintainer=m)
        q.awaitTermination(120)

    want = code_triples(all_files)
    key = lambda df: {tuple(r) for r in  # noqa: E731
                      df.select("subj", "pred", "obj", "okind").collect()}
    want_set = key(want)
    assert key(m.graph()) == want_set
    # storage holds cross-batch duplicates of the shared entity facts
    # (repo/module type+label rows) — that is the documented contract
    assert m.table.read().count() >= want.count()

    # replayed epoch: skipped before any write (snapshot count frozen)
    n_snaps = len(m.table.snapshots())
    seen_id = next(iter(m._seen))
    m(code_files(spark.createDataFrame(docs[:30], sch)),
      batch_id=seen_id)
    assert len(m.table.snapshots()) == n_snaps

    # compaction folds to one deduped base; graph and guard survive a
    # FRESH maintainer (epoch ids re-read through the parent chain)
    m.compact_graph()
    assert m.table.read().count() == want.count()
    assert key(m.graph()) == want_set
    m2 = CodeKGMaintainer(spark, tbl)
    m2(code_files(spark.createDataFrame(docs[:30], sch)),
       batch_id=seen_id)
    assert key(m2.graph()) == want_set


def test_void_stream_converges_and_epoch_idempotent(spark):
    """Streaming VoID maintenance: after draining triple chunks in any
    order, the merged sketch and the estimated description equal the
    one-shot batch void_sketch/void_estimate; a replayed epoch is a
    no-op (additive triple counts ride the epoch contract); compaction
    preserves the view and the replay guard across a fresh
    maintainer."""
    import os
    import random

    from claimskg_generator_spark.operators.kg_stats import (
        RDF_TYPE,
        void_estimate,
        void_sketch,
    )
    from claimskg_generator_spark.streaming.void_stream import (
        VoidSketchMaintainer,
        stream_void_sketch,
    )

    base = tempfile.mkdtemp(prefix="claimskg_voidstream_")
    in_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
    os.makedirs(in_dir)

    rng = random.Random(9)
    rows = [(f"s{rng.randrange(120)}", f"p{rng.randrange(5)}",
             f"o{rng.randrange(40)}") for _ in range(600)] + \
           [(f"s{i}", RDF_TYPE, f"C{i % 3}") for i in range(60)]
    sch = "subj string, pred string, obj string"
    P = 10

    m = VoidSketchMaintainer(spark, tbl, p=P)
    chunks = [rows[:220], rows[220:440], rows[440:]]
    rng.shuffle(chunks)
    for chunk in chunks:
        spark.createDataFrame(chunk, sch).coalesce(1).write.mode(
            "append").parquet(in_dir)
        q, _ = stream_void_sketch(spark, in_dir, tbl, ck, p=P,
                                  maintainer=m)
        q.awaitTermination(120)

    whole = spark.createDataFrame(rows, sch)
    key = lambda df: {  # noqa: E731
        (r["scope"], r["key"], r["metric"], r["reg_idx"]):
        (r["max_rho"], r["cnt"]) for r in df.collect()}
    want_sketch = key(void_sketch(whole, p=P))
    assert key(m.sketch()) == want_sketch

    desc = lambda df: {  # noqa: E731
        (r["scope"], r["key"], r["metric"]): r["value"]
        for r in df.collect()}
    want_desc = desc(void_estimate(void_sketch(whole, p=P), p=P))
    assert desc(m.description()) == want_desc

    # replayed epoch: skipped before any write
    seen_id = next(iter(m._seen))
    m(spark.createDataFrame(rows[:220], sch), batch_id=seen_id)
    assert key(m.sketch()) == want_sketch

    # compaction folds partials; view + guard survive a fresh maintainer
    m.compact()
    assert key(m.sketch()) == want_sketch
    m2 = VoidSketchMaintainer(spark, tbl, p=P)
    m2(spark.createDataFrame(rows[:220], sch), batch_id=seen_id)
    assert key(m2.sketch()) == want_sketch


def test_charset_stream_converges_with_deletes(spark):
    """Streaming characteristic-set maintenance: after draining
    insert/delete chunks in any order, the folded state and the
    derived summary equal the one-shot batch
    charset_state/characteristic_sets over the SURVIVING triples; a
    replayed epoch is a no-op; compaction preserves the view and the
    replay guard across a fresh maintainer."""
    import os
    import random

    from claimskg_generator_spark.operators.kg_stats import (
        characteristic_sets,
    )
    from claimskg_generator_spark.streaming.charset_stream import (
        CharsetStateMaintainer,
        stream_charset_state,
    )

    base = tempfile.mkdtemp(prefix="claimskg_charsetstream_")
    in_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
    os.makedirs(in_dir)

    rng = random.Random(17)
    inserts = [(f"s{rng.randrange(60)}", f"p{rng.randrange(6)}",
                f"o{i}", "I") for i in range(400)]
    # delete a deterministic slice of what was inserted — including
    # every triple of some subjects (they must vanish entirely)
    dels = [(s, p, o, "D") for (s, p, o, _op) in inserts
            if int(s[1:]) % 7 == 0 or (int(s[1:]) % 5 == 0
                                       and p in ("p0", "p1"))]
    sch = "subj string, pred string, obj string, op string"

    m = CharsetStateMaintainer(spark, tbl)
    chunks = [inserts[:150], inserts[150:], dels]
    # deletes may drain BEFORE their inserts: additive state is
    # arrival-order-proof
    rng.shuffle(chunks)
    for chunk in chunks:
        spark.createDataFrame(chunk, sch).coalesce(1).write.mode(
            "append").parquet(in_dir)
        q, _ = stream_charset_state(spark, in_dir, tbl, ck,
                                    maintainer=m)
        q.awaitTermination(120)

    deleted = {(s, p, o) for (s, p, o, _op) in dels}
    survivors = [(s, p, o) for (s, p, o, _op) in inserts
                 if (s, p, o) not in deleted]
    whole = spark.createDataFrame(survivors,
                                  "subj string, pred string, obj string")

    state = lambda df: {(r["subj"], r["pred"]): r["n"]  # noqa: E731
                        for r in df.collect()}
    from claimskg_generator_spark.operators.kg_stats import charset_state
    assert state(m.state()) == state(charset_state(whole))

    csets = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    want = csets(characteristic_sets(whole))
    assert csets(m.charsets()) == want
    assert csets(m.charsets(max_set_preds=2)) == \
        csets(characteristic_sets(whole, max_set_preds=2))

    # replayed epoch: skipped before any write
    seen_id = next(iter(m._seen))
    m(spark.createDataFrame(inserts[:150], sch), batch_id=seen_id)
    assert csets(m.charsets()) == want

    # compaction folds partials; view + guard survive a fresh maintainer
    m.compact()
    assert csets(m.charsets()) == want
    m2 = CharsetStateMaintainer(spark, tbl)
    m2(spark.createDataFrame(dels, sch), batch_id=seen_id)
    assert csets(m2.charsets()) == want
