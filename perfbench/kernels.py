"""Kernel phase ledger: one process, a fixed seeded sample of rows.

``extract_frame`` is timed as a whole. Its phases are timed by calling
the same public functions the frame calls: ``segment_payload`` (split
into plain and forced-boundary payloads), ``classify_blocks_many`` and
``reassemble``. The rest of ``extract_frame`` (gates and frame build) is
timed by running it with those three phases replaced by lookups of their
precomputed results, so the phase times and the remainder are measured
independently and their sum can be checked against the whole.
"""

from __future__ import annotations

import gc
import time

import pandas as pd

from perfbench.probe import median

_GATE_REJECTS = ("empty", "blank", "too_short", "too_long")


def _payloads(sample: pd.DataFrame, out: pd.DataFrame) -> list[tuple[int, str, list | None]]:
    """(row, payload, mask) of the rows the frame segmented: those no
    pre-segmentation gate rejected."""
    rows = []
    for i, (text, tool, mask, reason) in enumerate(zip(
            sample["text"], sample["tool"], sample["mask"], out["reject_reason"])):
        if reason in _GATE_REJECTS:
            continue
        payload = tool if tool else (text or "")
        rows.append((i, payload, None if mask is None else list(mask)))
    return rows


def kernel_phases(sample: pd.DataFrame, reps: int = 5) -> dict[str, float]:
    from dup_ocropy_spark.config import DEFAULT_CONFIG as cfg
    from dup_ocropy_spark.kernels import oracle
    from dup_ocropy_spark.kernels.classify import classify_blocks_many
    from dup_ocropy_spark.kernels.reassemble import reassemble
    from dup_ocropy_spark.kernels.segment import segment_payload

    def timed(fn, *args):
        gc.collect()
        t = time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t

    out = oracle.extract_frame(sample)  # warm: imports, regex caches
    payloads = _payloads(sample, out)

    def phases():
        plain_s = masked_s = 0.0
        blocks_of = {}
        gc.collect()
        for i, payload, mask in payloads:
            t = time.perf_counter()
            blocks = segment_payload(payload, mask)
            dt = time.perf_counter() - t
            if mask is None:
                plain_s += dt
            else:
                masked_s += dt
            blocks_of[i] = blocks
        live = {i: b for i, b in blocks_of.items() if len(b) <= cfg.max_blocks}
        _, cls_s = timed(classify_blocks_many, list(live.values()), cfg)
        finished, rea_s = timed(lambda: {i: reassemble(b, cfg) for i, b in live.items()})
        return (plain_s, masked_s, cls_s, rea_s), blocks_of, live, finished

    # the remainder: extract_frame with its three phases served from
    # results computed beforehand
    def remainder(blocks_of, finished):
        by_payload = {(p, None if m is None else tuple(m)): blocks_of[i]
                      for i, p, m in payloads}
        by_blocks = {id(blocks_of[i]): r for i, r in finished.items()}
        stubs = {
            "segment_payload": lambda p, m=None: by_payload[(p, None if m is None else tuple(m))],
            "classify_blocks_many": lambda docs, config=cfg: docs,
            "reassemble": lambda blocks, config=cfg: by_blocks[id(blocks)],
        }
        saved = {k: getattr(oracle, k) for k in stubs}
        try:
            for k, v in stubs.items():
                setattr(oracle, k, v)
            stubbed, rest_s = timed(oracle.extract_frame, sample)
        finally:
            for k, v in saved.items():
                setattr(oracle, k, v)
        if not stubbed["extracted_text"].equals(out["extracted_text"]):
            raise RuntimeError("phase stubs changed extract_frame's output")
        return rest_s

    # each rep times the whole frame and every phase back to back, so a
    # slow spell on the host hits the whole and its parts alike
    rows = []
    for _ in range(reps):
        _, wall = timed(oracle.extract_frame, sample)
        times, blocks_of, live, finished = phases()
        rows.append((wall, *times, remainder(blocks_of, finished)))
    med = [median(col) for col in zip(*rows)]
    names = ("segment_s", "segment_masked_s", "classify_s", "reassemble_s", "gate_frame_s")
    n_blocks = sum(len(b) for b in blocks_of.values())
    n_content = sum(1 for b in live.values() for x in b if x.label == "content")
    return {
        "kernels.frame_s_per_krow": med[0] / (len(sample) / 1000.0),
        **{f"kernels.{n}": v for n, v in zip(names, med[1:])},
        "kernels.phase_sum_over_wall": median(sum(r[1:]) / r[0] for r in rows),
        "kernels.blocks_per_turn": n_blocks / len(sample),
        "kernels.live_frac": len(live) / len(sample),
        "kernels.content_frac": n_content / max(1, n_blocks),
    }
