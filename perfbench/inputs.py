"""Seeded benchmark inputs, generated once per (workload, size, seed).

The seed picks a ``conv_idx`` window for the public ``synth_conv``
generator, so every seed gives different conversations while the
hot-conversation skew fixture survives: it is keyed on
``conv_idx % hot_every``, and every window starts at a multiple of
``hot_every``. Every seed gets exactly the same number of turns (the
last conversation is cut to fit), so rates and ratios compare across
seeds.

On top of ``synth_conv`` the generator adds:

* a forced-boundary ``mask`` on a seeded fraction of turns, so both
  segmentation paths (plain and masked) run;
* for the curate workload, planted exact clones (same turns, new
  ``conv_id``) and two kinds of near-duplicate clones (one word inserted,
  or one letter replaced, in one turn), with ids that sort after their
  original so keep-first dedup keeps the original.

Each input is written once under the work directory, together with
``meta.json``: row count, input bytes, the planted clone pairs, and the
expected lineage checksum. The checksum comes from the single-process
``extract_frame`` oracle, computed here, outside every timed section.
The cache key holds a hash of the package's and this file's sources, so
a code change regenerates the input and recomputes the checksum.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# conversations per seed window; windows of different seeds never overlap,
# and every hot_every used below divides the stride
SEED_STRIDE = 10_000
# distinct windows; a seed picks window ``seed % SEED_WINDOWS``. synth_conv
# stamps turns at EPOCH + 17 s * 1301 * conv_idx, which leaves Python's
# datetime range (year 9999) past conv_idx ~11.3M, so every window ends
# below 10M
SEED_WINDOWS = 1_000
MASK_FRAC = 0.08
# only conversations this long get a clone: a near clone needs an html
# turn to edit, and a one-turn clone is mostly gated away before dedup
MIN_CLONE_TURNS = 6
# clone kind -> conv_id prefix of the clone; every prefix sorts after
# "conv", so keep-first dedup keeps the original
CLONE_KINDS = {"exact": "dupe", "insert": "near", "subst": "nsub"}


def _mask_for(rng: np.random.Generator, payload: str) -> list[int] | None:
    if len(payload) < 40 or rng.random() >= MASK_FRAC:
        return None
    k = int(rng.integers(1, 4))
    return sorted(int(x) for x in rng.integers(1, len(payload) - 1, k))


def _near_edit(rows: pd.DataFrame, kind: str) -> pd.DataFrame:
    """A near duplicate: in the first html turn, one word inserted at the
    start of the first paragraph ("insert") or that paragraph's first
    letter replaced ("subst"). Both change a handful of characters of
    the conversation text; the insert also shifts every later one."""
    rows = rows.copy()
    col = rows.columns.get_loc("text")
    for i, (text, tool) in enumerate(zip(rows["text"], rows["tool"])):
        at = text.find("<p>") + 3
        if tool or at < 3 or at >= len(text):
            continue
        if kind == "insert":
            text = text[:at] + "Very " + text[at:]
        else:
            text = text[:at] + ("Z" if text[at] == "Q" else "Q") + text[at + 1:]
        rows.iloc[i, col] = text
        break
    return rows


def plan_conversations(offset: int, n_turns: int, hot_every: int,
                       clone_frac: float) -> list[tuple[int, int, str]]:
    """(conv_idx, turns kept, clone kind) for one seed window.

    Whole conversations, clones included, are taken in order until the
    next would overflow ``n_turns``; the last one is cut to fill exactly
    ``n_turns`` and gets no clone. A conversation is cloned while clone
    turns stay within ``clone_frac`` of the original turns (and it has
    ``MIN_CLONE_TURNS``), the kinds taken in turn from ``CLONE_KINDS``.
    Every seed thus has the same number of turns and nearly the same
    clone share, so rates and byte ratios compare across seeds."""
    from dup_ocropy_spark.sources.transcripts import turn_count

    plan, total, orig, cloned, ci = [], 0, 0, 0, offset
    while total < n_turns:
        n = turn_count(ci, hot_every)
        kind = ""
        if (clone_frac and n >= MIN_CLONE_TURNS and total + 2 * n <= n_turns
                and cloned + n <= clone_frac * (orig + n)):
            kind = list(CLONE_KINDS)[sum(1 for p in plan if p[2]) % len(CLONE_KINDS)]
        width = n * (2 if kind else 1)
        if total + width > n_turns:  # the last one, cut, never cloned
            plan.append((ci, n_turns - total, ""))
            break
        plan.append((ci, n, kind))
        total += width
        orig += n
        cloned += width - n
        ci += 1
    return plan


def conversation_rows(conv_idx: int, keep: int, kind: str,
                      hot_every: int) -> pd.DataFrame:
    """Transcript rows of one conversation (its first ``keep`` turns)
    plus its planted clone of ``kind`` (a ``CLONE_KINDS`` key, or "")."""
    from dup_ocropy_spark.sources.transcripts import synth_conv

    tdf, _ = synth_conv(conv_idx, hot_every=hot_every)
    tdf = tdf.drop(columns=["ts"]).iloc[:keep]
    rng = np.random.default_rng([7919, conv_idx])
    tdf["mask"] = [_mask_for(rng, tool or text)
                   for text, tool in zip(tdf["text"], tdf["tool"])]
    if not kind:
        return tdf
    clone = tdf if kind == "exact" else _near_edit(tdf, kind)
    clone = clone.assign(conv_id=clone["conv_id"].str.replace("conv", CLONE_KINDS[kind], n=1))
    return pd.concat([tdf, clone], ignore_index=True)


def _generate(path: str, plan: list[tuple[int, int, str]], hot_every: int,
              n_files: int) -> pd.DataFrame:
    """Write the planned conversations as ``n_files`` parquet files and
    return them. Generated in this process, not in Spark, so the JVM
    that is measured next does none of this work."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.concat([conversation_rows(ci, keep, kind, hot_every)
                    for ci, keep, kind in plan], ignore_index=True)
    # scrambled on disk, like the repo's own bench table, so readers must
    # re-establish (conv_id, turn_idx) order
    h = pd.util.hash_pandas_object(df[["conv_id", "turn_idx"]], index=False).to_numpy()
    df = df.iloc[np.argsort(h, kind="stable")]
    part = np.sort(h) % n_files
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("mask", pa.list_(pa.int32()))])
    os.makedirs(path)
    for i in range(n_files):
        table = pa.Table.from_pandas(df[part == i], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return df


def oracle_checksum(spark, path: str, batch_rows: int) -> tuple[int, int]:
    """(row count, lineage checksum) of the extraction of the input at
    ``path``, computed by the single-process oracle ``extract_frame``.
    Spark only applies the lineage hash to the oracle's rows."""
    from dup_ocropy_spark.kernels.oracle import extract_frame
    from dup_ocropy_spark.plans.lineage import dataset_checksum

    pdf = pd.read_parquet(path)
    outs = [extract_frame(pdf.iloc[i:i + batch_rows])
            for i in range(0, len(pdf), batch_rows)]
    out = pd.concat(outs, ignore_index=True)[["conv_id", "turn_idx", "extracted_text"]]
    df = spark.createDataFrame(
        out, "conv_id string, turn_idx int, extracted_text string")
    return len(out), dataset_checksum(df)


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _, names in os.walk(path) for n in names
               if n.endswith(".parquet"))


def source_hash(root: str) -> str:
    """Hash of the sources the input and its expected values depend on:
    every file of the package, and this generator."""
    h = hashlib.sha256()
    files = [os.path.join(r, n)
             for r, _, names in os.walk(os.path.join(root, "dup_ocropy_spark"))
             for n in names if not n.endswith(".pyc")]
    for p in sorted(files) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_input(spark, cache_dir: str, name: str, seed: int, n_turns: int,
                 hot_every: int, clone_frac: float, n_files: int,
                 with_checksum: bool) -> dict:
    """Materialize (once) the input of one workload and seed; returns its
    meta dict, whose ``path`` is the parquet input."""
    root_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = (f"{name}-t{n_turns}-h{hot_every}-c{clone_frac}-f{n_files}-s{seed}"
           f"-{source_hash(root_dir)}")
    root = os.path.join(cache_dir, key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "input")
    offset = (seed % SEED_WINDOWS) * SEED_STRIDE
    plan = plan_conversations(offset, n_turns, hot_every, clone_frac)
    if len(plan) > SEED_STRIDE:
        raise ValueError(f"more than {SEED_STRIDE} conversations would overlap seed windows")
    df = _generate(path, plan, hot_every, n_files)
    kind_of = {prefix: kind for kind, prefix in CLONE_KINDS.items()}
    clones = sorted(c for c in df["conv_id"].unique() if not c.startswith("conv"))
    meta = {"path": path, "seed": seed, "n_convs": len(plan),
            "input_bytes": parquet_bytes(path), "n_turns": len(df),
            "planted": [("conv" + c[4:], c, kind_of[c[:4]]) for c in clones]}
    if meta["n_turns"] != n_turns:
        raise RuntimeError(f"generated {meta['n_turns']} turns, planned {n_turns}")
    if with_checksum:
        from dup_ocropy_spark.config import DEFAULT_CONFIG

        rows, checksum = oracle_checksum(spark, path, DEFAULT_CONFIG.arrow_batch_rows)
        meta.update(expected_rows=rows, expected_checksum=checksum)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return meta

