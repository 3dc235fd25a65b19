"""The distributed extraction pipeline (reference pipeline, Spark-first).

Reference shape (``run-test:5-11``): nlbin -> gpageseg -> rpred -> hocr,
four processes communicating through files, parallel per page via
``multiprocessing.Pool``. Spark shape (SURVEY.md section 4 'stage
fusion'): ONE fused ``mapInPandas`` stage running the whole per-turn
kernel chain — payloads cross the JVM->Python Arrow boundary exactly
once — wrapped in native operators:

    extract():          scan -> [opt-in salted repartition] -> mapInPandas(extract)
    ordered(extract()): scan -> range exchange(conv_id, turn_idx)
                             -> mapInPandas(extract) -> local sort

Design notes for 100 TB scale:
  * The per-turn stage needs no key co-location at all — turns are
    independent (as pages are in the reference), so the default plan has
    ZERO shuffles before the UDF; ``spark.sql.files.maxPartitionBytes``
    bounds split size. An opt-in repartition on a salted hash of
    (conv_id, turn_idx) *breaks* conv_id clumping for layouts where a
    10^5-turn hot conversation lands in one input split (north_rule skew
    fixture). Salting the shuffle never touches output order — ordering is
    re-established by explicit sort/window at the consumer (SURVEY.md
    section 7.3 hard part b).
  * Ordering ranges the INPUT keys, never the kernel output: the kernel
    maps (conv_id, turn_idx) 1:1, so bounds sampled from the input are
    bounds for the output too, and the range sampler reads only the scan
    instead of running the kernel a second time.
  * No per-row Python anywhere: the only Python boundary is the Arrow
    batch iterator; everything else (filters, ordering, lineage aggs) is
    JVM/codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dup_ocropy_spark.config import DEFAULT_CONFIG, ExtractConfig
from dup_ocropy_spark.kernels.oracle import EXTRACT_SCHEMA, extract_frame

INPUT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool")

# rows per extract_frame call: the Arrow batch (arrow_batch_rows, 4096)
# stays the transfer unit, but the kernel's per-call working set grows
# with the rows it holds. When AQE coalesces a small pre-kernel shuffle
# into one task, that task gets full 4096-row batches; capping each call
# at 256 rows held Python-worker peak RSS at 137 MiB instead of 156 MiB
# (perfbench single_pass, 6000 turns, 4-core host) for identical output,
# and sixteen 256-row calls were no slower in-process than one 4096-row
# call.
KERNEL_BATCH_ROWS = 256


def make_extract_stage(config: ExtractConfig = DEFAULT_CONFIG):
    """Arrow-batch iterator body for mapInPandas; the closure carries only
    the (tiny, frozen) config — model weights ride a broadcast variable in
    classify mode (see operators/train.py). Each Arrow batch is fed to
    ``extract_frame`` in slices of at most ``KERNEL_BATCH_ROWS`` rows;
    scoring is shape-independent, so the output equals one call over the
    whole batch."""

    def stage(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), KERNEL_BATCH_ROWS):
                yield extract_frame(pdf.iloc[lo:lo + KERNEL_BATCH_ROWS], config)

    return stage


def _kernel(df: DataFrame, config: ExtractConfig) -> DataFrame:
    return df.mapInPandas(make_extract_stage(config), schema=EXTRACT_SCHEMA)


def extract(transcripts: DataFrame, config: ExtractConfig = DEFAULT_CONFIG,
            repartition: int | None = None, salted: bool = False) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool[, mask, ts]) ->
    extracted(conv_id, turn_idx, role, payload_len, n_blocks, n_content,
    extracted_text, spans, reject_reason).

    Plan: scan -> [salted repartition] -> mapInPandas. Unordered —
    consumers that need the per-turn invariant ordering pass the result
    to ``ordered()``, which re-plans it from the column-pruned input and
    ``config`` kept on the returned DataFrame, or apply a (conv_id,
    turn_idx) window themselves.

    The salted pre-shuffle is OPT-IN (``salted=True`` or an explicit
    ``repartition=n``): turns are independent, so the map stage needs no
    co-location and ``spark.sql.files.maxPartitionBytes`` already bounds
    split size/skew when scanning files. Salting is for conv-clustered
    layouts where one hot conversation lands in one input split — at 100 TB
    a default shuffle here would be an extra full write+read of the corpus
    (~25%% wall measured at local[32] on pre-scrambled input).
    """
    cols = [c for c in (*INPUT_COLUMNS, "mask") if c in transcripts.columns]
    pruned = transcripts.select(*cols)  # column pruning before the Python boundary
    df = pruned
    if salted or repartition is not None:
        n = repartition or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # salted spread: hash includes turn_idx, so a hot conv_id fans out
        df = df.repartition(n, F.xxhash64("conv_id", "turn_idx"))
    out = _kernel(df, config)
    out._extract_source = (pruned, config)
    return out


def ordered(extracted: DataFrame) -> DataFrame:
    """Stable output ordering (north_rule) of an ``extract()`` result: a
    total order on (conv_id, turn_idx) across files without a
    single-reducer global sort.

    Plan: scan -> range exchange on the input keys -> mapInPandas ->
    sortWithinPartitions. The range sampler reads the pruned input, not
    the kernel, so every row goes through the kernel once. Any salted
    pre-shuffle of the ``extract()`` call is dropped: ranges on
    (conv_id, turn_idx) already split a hot conversation.

    The kernel therefore runs in ``spark.sql.shuffle.partitions`` tasks,
    which AQE may coalesce: to one task on tiny inputs, while at scale
    ``coalescePartitions.parallelismFirst`` keeps at least
    ``defaultParallelism`` partitions.

    Raises ``TypeError`` for a DataFrame ``extract()`` did not return
    (including one derived from it by a further transformation).
    """
    source = getattr(extracted, "_extract_source", None)
    if source is None:
        raise TypeError("ordered() takes the DataFrame returned by extract()")
    pruned, config = source
    return (_kernel(pruned.repartitionByRange("conv_id", "turn_idx"), config)
            .sortWithinPartitions("conv_id", "turn_idx"))


def conversation_text(extracted: DataFrame) -> DataFrame:
    """H4 analog at conversation grain: reassemble per-conv document text
    from per-turn extractions under stable turn ordering, JVM-side only
    (sort_array over collected structs -> no Python)."""
    return (extracted
            .where(F.col("extracted_text") != "")
            .groupBy("conv_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("turn_idx", "extracted_text"))),
                        lambda s: s["extracted_text"],
                    ),
                    "\n",
                ).alias("conv_text"),
                F.count("*").alias("n_turns_with_content"),
            ))


def reject_report(extracted: DataFrame) -> DataFrame:
    """Reject accounting (reference check_page/check_line print-and-skip,
    plus ocropus-errs missing-file accounting)."""
    return (extracted.groupBy("reject_reason")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("payload_len").alias("payload_chars"))
            .orderBy(F.desc("n_turns")))
