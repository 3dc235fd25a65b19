"""End-to-end Spark pipeline tests: per-turn equality vs the oracle /
construction ground truth, determinism across partitionings, skew,
reassembly ordering, lineage, resume (FIXTURES.md sections 1-3)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dup_ocropy_spark.kernels.oracle import extract_frame
from dup_ocropy_spark.plans.extract import (
    KERNEL_BATCH_ROWS, conversation_text, extract, make_extract_stage, ordered, reject_report,
)
from dup_ocropy_spark.plans.lineage import dataset_checksum, write_output_with_lineage
from dup_ocropy_spark.plans.resume import committed_buckets, read_checkpointed, run_with_checkpoints
from dup_ocropy_spark.sources.transcripts import (
    synth_expected, synth_transcripts, write_transcripts,
)

N_CONVS = 60


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, N_CONVS).cache()


@pytest.fixture(scope="module")
def extracted_pdf(spark, transcripts):
    return (extract(transcripts)
            .orderBy("conv_id", "turn_idx")
            .toPandas())


def test_per_turn_equality_vs_construction(spark, extracted_pdf):
    """north_rule invariant: per-turn text equality vs ground truth under
    stable (conv_id, turn_idx) ordering."""
    expected = (synth_expected(spark, N_CONVS)
                .orderBy("conv_id", "turn_idx").toPandas())
    assert len(extracted_pdf) == len(expected)
    assert (extracted_pdf["conv_id"].values == expected["conv_id"].values).all()
    assert (extracted_pdf["turn_idx"].values == expected["turn_idx"].values).all()
    mism = extracted_pdf["extracted_text"].values != expected["expected_text"].values
    assert mism.sum() == 0, extracted_pdf[mism].head()


def test_per_turn_equality_vs_oracle(spark, transcripts, extracted_pdf):
    """Spark output == single-process oracle over the same rows."""
    raw = transcripts.orderBy("conv_id", "turn_idx").toPandas()
    oracle = extract_frame(raw).reset_index(drop=True)
    got = extracted_pdf.reset_index(drop=True)
    pd.testing.assert_series_equal(got["extracted_text"], oracle["extracted_text"])
    pd.testing.assert_series_equal(got["reject_reason"], oracle["reject_reason"])
    # spans equality (struct cells arrive as dicts via Arrow)
    def key(s):
        return (s["block_id"], s["start"], s["end"], s["label"], round(s["score"], 6))

    for g, o in zip(got["spans"], oracle["spans"]):
        assert [key(s) for s in g] == [key(s) for s in o]


def test_determinism_across_parallelism(spark, transcripts):
    """Same input at two partitionings -> identical output set (guards the
    imap_unordered -> deterministic upgrade; SURVEY.md section 5)."""
    a = extract(transcripts, repartition=2)
    b = extract(transcripts, repartition=16)
    assert dataset_checksum(a) == dataset_checksum(b)
    assert a.count() == b.count()


def test_ordered_output_is_totally_ordered(spark, transcripts):
    rows = ordered(extract(transcripts)).select("conv_id", "turn_idx").collect()
    keys = [(r.conv_id, r.turn_idx) for r in rows]
    assert keys == sorted(keys)


def test_ordered_ranges_input_before_kernel(spark, tmp_path):
    """ordered() range-partitions the input keys, so the range exchange
    (and its bound sampler) sits below the one kernel stage instead of
    above it, where sampling would run the kernel a second time."""
    path = str(tmp_path / "tr")
    write_transcripts(spark, path, 10)
    out = ordered(extract(spark.read.parquet(path), salted=True))
    out.write.mode("overwrite").format("noop").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert "hashpartitioning" not in final, final  # salted shuffle dropped
    assert final.index("MapInPandas") < final.index("rangepartitioning"), final


def test_ordered_rejects_other_dataframes(spark, transcripts):
    with pytest.raises(TypeError, match="extract"):
        ordered(transcripts)
    with pytest.raises(TypeError, match="extract"):
        ordered(extract(transcripts).select("conv_id", "turn_idx"))


def test_extract_stage_caps_kernel_rows(transcripts):
    """A batch above the kernel row cap comes back as the same frame one
    extract_frame call gives; an empty batch yields nothing."""
    pdf = transcripts.toPandas()
    assert len(pdf) > KERNEL_BATCH_ROWS
    stage = make_extract_stage()
    parts = list(stage(iter([pdf])))
    assert len(parts) == -(-len(pdf) // KERNEL_BATCH_ROWS)
    assert all(len(p) <= KERNEL_BATCH_ROWS for p in parts)
    got = pd.concat(parts, ignore_index=True)
    pd.testing.assert_frame_equal(got, extract_frame(pdf))
    assert list(stage(iter([pdf.iloc[:0]]))) == []


def test_skewed_hot_conversation(spark):
    """1 hot conv with ~100x median turns: salted repartition keeps the
    map stage balanced and output unaffected."""
    df = synth_transcripts(spark, 12, hot_every=100, hot_turns=800)
    out = extract(df, repartition=8)
    sizes = (out.withColumn("p", F.spark_partition_id())
             .groupBy("p").count().toPandas()["count"])
    assert len(sizes) == 8
    # hot conv alone (~800 turns) exceeds a fair share; salting must spread it
    assert sizes.max() < sizes.sum() * 0.35
    exp = synth_expected(spark, 12, hot_every=100, hot_turns=800)
    joined = (out.join(exp, ["conv_id", "turn_idx"])
              .where(F.col("extracted_text") != F.col("expected_text")))
    assert joined.count() == 0


def test_conversation_reassembly(spark, transcripts, extracted_pdf):
    conv = conversation_text(extract(transcripts)).orderBy("conv_id").toPandas()
    pdf = extracted_pdf[extracted_pdf["extracted_text"] != ""]
    exp = (pdf.sort_values(["conv_id", "turn_idx"])
           .groupby("conv_id")["extracted_text"].apply("\n".join))
    got = conv.set_index("conv_id")["conv_text"]
    assert got.to_dict() == exp.to_dict()


def test_reject_report(spark, transcripts):
    rep = reject_report(extract(transcripts)).toPandas()
    reasons = set(rep["reject_reason"].dropna())
    # the synthetic grammar always plants empty/blank/too-short fixtures
    assert {"empty", "blank", "too_short"} <= reasons


def test_lineage(spark, transcripts, tmp_path):
    out = extract(transcripts)
    lin = write_output_with_lineage(out, str(tmp_path / "out"), "snap-1")
    pdf = lin.toPandas()
    assert pdf["row_count"].sum() == out.count()
    assert (pdf["source_snapshot"] == "snap-1").all()
    back = spark.read.parquet(str(tmp_path / "out_lineage"))
    assert back.count() == len(pdf)


def test_resume_idempotent(spark, transcripts, tmp_path):
    """Kill after bucket k, restart, final table identical to a clean run
    (resume fixture, FIXTURES.md section 3)."""
    out_dir = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(transcripts, out_dir, n_buckets=4, fail_after_bucket=1)
    done_before = committed_buckets(out_dir)
    assert 0 < len(done_before) < 4
    # restart completes the remaining buckets only
    entries = run_with_checkpoints(transcripts, out_dir, n_buckets=4)
    assert {e["bucket"] for e in entries} == set(range(4)) - done_before
    resumed = read_checkpointed(spark, out_dir)
    direct = extract(transcripts)
    assert resumed.count() == direct.count()
    assert dataset_checksum(resumed) == dataset_checksum(direct)
    # re-running a completed checkpoint is a no-op
    assert run_with_checkpoints(transcripts, out_dir, n_buckets=4) == []


def test_write_transcripts_scrambled_then_reordered(spark, tmp_path):
    path = str(tmp_path / "tr")
    write_transcripts(spark, path, 10)
    df = spark.read.parquet(path)
    assert df.count() == synth_transcripts(spark, 10).count()
    out = ordered(extract(df)).select("conv_id", "turn_idx").toPandas()
    keys = list(zip(out["conv_id"], out["turn_idx"]))
    assert keys == sorted(keys)


def test_mask_column_forces_boundaries(spark):
    """J5/G8 analog: an optional per-turn mask column splits blocks at the
    given raw offsets, end-to-end through the distributed stage."""
    import pandas as pd

    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1"],
        "turn_idx": pd.array([0, 1], dtype="int32"),
        "role": ["user", "user"],
        "text": ["aaaa bbbb cccc dddd eeee ffff gggg hhhh"] * 2,
        "tool": ["", ""],
        "mask": [None, [20]],
    })
    df = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string, "
             "tool string, mask array<int>")
    out = extract(df).orderBy("turn_idx").collect()
    assert [(s["start"], s["end"]) for s in out[0].spans] == [(0, 39)]
    assert [(s["start"], s["end"]) for s in out[1].spans] == [(0, 19), (20, 39)]
