"""Checkpoint/resume exactness, streaming batch-parity, multimodal
plumbing."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from ner_spark import synth
from ner_spark.operators import multimodal
from ner_spark.plans.checkpoint import PipelineCheckpointer, content_checksum, run_kg_checkpointed
from ner_spark.streaming import windowed


# --------------------------------------------------------------------------
# checkpoint / resume
# --------------------------------------------------------------------------

def _files_parquet(spark, tmp_path, n=40):
    p = str(tmp_path / "files.parquet")
    synth.synth_files(spark, n).write.mode("overwrite").parquet(p)
    return p


def test_checkpoint_resume_skips_completed_stages(spark, tmp_path):
    files_path = _files_parquet(spark, tmp_path)
    root = str(tmp_path / "ckpt")

    t1 = run_kg_checkpointed(spark, files_path, root)
    first = {tuple(r) for r in t1.collect()}
    assert first == synth.golden_triples(40)
    man = json.loads((Path(root) / "profiles" / "manifest.json").read_text())
    assert man["status"] == "complete"
    assert man["rows_out"] == 40
    assert sum(man["per_file_rows"].values()) == 40  # per-partition lineage

    # resume: nothing recomputes, same rows come back
    cp_probe = PipelineCheckpointer(spark, root)
    t2 = run_kg_checkpointed(spark, files_path, root)
    assert {tuple(r) for r in t2.collect()} == synth.golden_triples(40)
    # the manifests were not rewritten (same completion timestamps)
    man2 = json.loads((Path(root) / "profiles" / "manifest.json").read_text())
    assert man2["completed_at_unix"] == man["completed_at_unix"]


def test_checkpoint_recomputes_after_crash(spark, tmp_path):
    """Deleting a stage manifest (data committed, manifest lost = crash
    mid-commit) recomputes that stage only, with identical output."""
    files_path = _files_parquet(spark, tmp_path)
    root = str(tmp_path / "ckpt")
    first = {tuple(r) for r in run_kg_checkpointed(spark, files_path, root).collect()}
    assert first == synth.golden_triples(40)

    (Path(root) / "triples" / "manifest.json").unlink()
    prof_man = json.loads((Path(root) / "profiles" / "manifest.json").read_text())
    second = {tuple(r) for r in run_kg_checkpointed(spark, files_path, root).collect()}
    assert second == first
    prof_man2 = json.loads((Path(root) / "profiles" / "manifest.json").read_text())
    assert prof_man2["completed_at_unix"] == prof_man["completed_at_unix"]  # not re-run


def test_checkpoint_invalidates_on_input_change(spark, tmp_path):
    files_a = _files_parquet(spark, tmp_path / "a", n=20)
    root = str(tmp_path / "ckpt")
    run_kg_checkpointed(spark, files_a, root)
    man_a = json.loads((Path(root) / "profiles" / "manifest.json").read_text())

    files_b = str((tmp_path / "b") / "files.parquet")
    synth.synth_files(spark, 30).write.mode("overwrite").parquet(files_b)
    run_kg_checkpointed(spark, files_b, root)
    man_b = json.loads((Path(root) / "profiles" / "manifest.json").read_text())
    assert man_b["rows_out"] == 30
    assert man_b["input_fingerprint"] != man_a["input_fingerprint"]

    # same path, rewritten in place: the listing changes, so it recomputes
    synth.synth_files(spark, 20).write.mode("overwrite").parquet(files_b)
    got = {tuple(r) for r in run_kg_checkpointed(spark, files_b, root).collect()}
    man_c = json.loads((Path(root) / "profiles" / "manifest.json").read_text())
    assert man_c["rows_out"] == 20
    assert man_c["input_fingerprint"] != man_b["input_fingerprint"]
    assert got == synth.golden_triples(20)


def test_content_checksum_partitioning_invariant(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("x"))
    assert content_checksum(df) == content_checksum(df.repartition(17))


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------

def _events_dir(sf_dir, tmp_path) -> str:
    """File-source streams read directories; stage the single parquet
    file into one."""
    import shutil

    d = tmp_path / "events_stream"
    d.mkdir(exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_hourly_rollup_matches_batch(spark, sf_dir, tmp_path):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = windowed.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
    windowed.run_available_now(
        windowed.hourly_rollup(stream), "stream_hourly", str(tmp_path / "ckpt")
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM stream_hourly").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_stream_session_rollup_runs(spark, sf_dir, tmp_path):
    stream = windowed.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
    windowed.run_available_now(
        windowed.session_rollup(stream), "stream_sessions", str(tmp_path / "ckpt2")
    )
    rows = spark.sql(
        "SELECT count(*) AS n, sum(n_events) AS tot FROM stream_sessions"
    ).first()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert rows["tot"] == n_events  # every event lands in exactly one session
    assert 0 < rows["n"] <= n_events


def test_streaming_stateful_dedupe_across_microbatches(spark, sf_dir, tmp_path):
    """applyInPandasWithState dedupe: the same events file staged twice,
    one file per micro-batch — every event arrives twice, state must
    suppress the second arrival."""
    import shutil

    from ner_spark.streaming import stateful

    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")
    stream = (
        spark.readStream.schema(windowed.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches
        .parquet(str(d))
    )
    deduped = stateful.streaming_dedupe(stream, "event_id", ["event_type"])
    stateful.run_append_available_now(deduped, "dedup_out", str(tmp_path / "ck"))
    out = spark.sql("SELECT * FROM dedup_out")
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_events  # 2x input, each key emitted once
    assert out.select("event_id").distinct().count() == n_events


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------

def test_media_features_deterministic(spark, sf_dir):
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    media = multimodal.with_binary_payload(docs)
    got = {r["doc_id"]: r for r in multimodal.media_features(media).collect()}
    for r in docs.collect():
        b = r["text"].encode()
        sha = hashlib.sha256(b).hexdigest()
        m = got[r["doc_id"]]
        assert m["n_bytes"] == len(b)
        assert m["payload_sha256"] == sha
        w, h = multimodal._fake_dims(sha)
        assert (m["width"], m["height"]) == (w, h)
        assert 1 <= m["width"] <= 512 and 1 <= m["height"] <= 512


def test_media_features_native_equals_decoded(spark, sf_dir):
    """The native projection and the Arrow-batched decode path must
    produce identical metadata (same stub codec on both sides)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    media = multimodal.with_binary_payload(docs)
    a = sorted(map(tuple, multimodal.media_features(media).collect()))
    b = sorted(map(tuple, multimodal.media_features_decoded(media).collect()))
    assert a == b


def test_frame_sample_shape(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(3)
    media = multimodal.with_binary_payload(docs)
    rows = multimodal.frame_sample(media, n_frames=4).collect()
    assert len(rows) == 12
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_doc.values())


def _make_bmp(width, height, px, top_down=False):
    """Build a 24-bit uncompressed BMP from a row-major RGB pixel list."""
    import struct

    stride = ((width * 3) + 3) & ~3
    rows = []
    order = range(height) if top_down else range(height - 1, -1, -1)
    for r in order:
        row = b"".join(
            bytes((b, g, rr)) for (rr, g, b) in px[r * width : (r + 1) * width]
        )
        rows.append(row + b"\x00" * (stride - len(row)))
    pixel_data = b"".join(rows)
    hdr = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII",
        40, width, (-height if top_down else height), 1, 24, 0,
        len(pixel_data), 2835, 2835, 0, 0,
    )
    return hdr + pixel_data


def test_decode_image_ppm_pgm_bmp():
    """Round 5: decode_image really decodes the uncompressed formats
    in-sandbox (no PIL needed); unsupported bytes raise ValueError."""
    px = [(r * 16, c * 16, (r + c) % 256) for r in range(3) for c in range(7)]
    # P6 PPM with a header comment
    ppm = (b"P6\n# synthetic\n7 3\n255\n"
           + b"".join(bytes(p) for p in px))
    img = multimodal.decode_image(ppm)
    assert (img.width, img.height, img.mode) == (7, 3, "RGB")
    assert img.pixels == b"".join(bytes(p) for p in px)
    # P5 PGM (grayscale)
    pgm = b"P5\n4 2\n255\n" + bytes(range(8))
    img = multimodal.decode_image(pgm)
    assert (img.width, img.height, img.mode) == (4, 2, "L")
    assert img.pixels == bytes(range(8))
    # BMP bottom-up and top-down decode to the SAME row-major pixels
    for top_down in (False, True):
        img = multimodal.decode_image(_make_bmp(7, 3, px, top_down))
        assert (img.width, img.height) == (7, 3)
        assert img.pixels == b"".join(bytes(p) for p in px)
    # strictness: code text that merely starts with the magic must not
    # false-positive (it lacks a valid header + exact pixel payload)
    for bad in (b"\x89PNG....", b"P6x = foo()\n", b"BMx = 1\n"):
        try:
            multimodal.decode_image(bad)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


def test_media_features_decoded_real_image_dims(spark):
    """A real BMP payload flows through the Arrow-batched kernel and
    comes out with its TRUE dimensions (not the sha-derived stub)."""
    import hashlib

    px = [(9, 9, 9)] * (5 * 4)
    bmp = _make_bmp(5, 4, px)
    media = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(b"def f(): pass\n"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in multimodal.media_features_decoded(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (5, 4)
    assert rows[1]["payload_sha256"] == hashlib.sha256(bmp).hexdigest()
    # non-image payload keeps the deterministic sha-derived dims
    sha2 = hashlib.sha256(b"def f(): pass\n").hexdigest()
    assert (rows[2]["width"], rows[2]["height"]) == multimodal._fake_dims(sha2)


# --------------------------------------------------------------------------
# incremental KG stream (streaming/kg_stream.py)
# --------------------------------------------------------------------------

def test_kg_stream_incremental_matches_batch(spark, tmp_path):
    """Two parquet drops -> streamed triples == batch triples; restart
    resumes from the checkpoint (no reprocessing of consumed drops)."""
    from ner_spark.plans.pipeline import extract_triples
    from ner_spark.streaming import kg_stream

    drops = str(tmp_path / "drops")
    out = str(tmp_path / "triples")
    ck = str(tmp_path / "ck")

    d1 = synth.synth_files(spark, 20)
    d2 = synth.synth_files(spark, 30).exceptAll(d1)
    d1.coalesce(2).write.mode("append").parquet(drops)

    kg_stream.run_incremental(spark, drops, out, ck)
    got1 = {tuple(r) for r in kg_stream.consolidated_triples(spark, out).collect()}
    want1 = {tuple(r) for r in extract_triples(d1).collect()}
    assert got1 == want1

    # idempotent re-run: checkpoint says everything is consumed
    raw1 = spark.read.parquet(out).count()
    kg_stream.run_incremental(spark, drops, out, ck)
    assert spark.read.parquet(out).count() == raw1

    # second drop: only the new files are processed, union is batch-equal
    d2.coalesce(2).write.mode("append").parquet(drops)
    kg_stream.run_incremental(spark, drops, out, ck)
    got2 = {tuple(r) for r in kg_stream.consolidated_triples(spark, out).collect()}
    want2 = {tuple(r) for r in extract_triples(synth.synth_files(spark, 30)).collect()}
    assert got2 == want2
