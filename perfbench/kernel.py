"""Spark-free A/B harness for the audio decode kernel.

Reads a fixed sample of ``SAMPLE_CLIPS`` fixture clips with pyarrow and
times, best of ``REPS``, the pieces of ``engine.audio.invariant_batches``
on one core:

* ``audio.kernel_ms_per_clip.<codec>``: the whole batch body, per codec;
* ``flac.parse_ms_per_clip``: ``engine.flac.parse`` on native FLAC clips;
* ``crc.fold_ms_per_clip``: the batched CRC folds (``flac.crc16_many``
  over FLAC frames, ``oggcrc.crc32_many`` over Ogg pages), per clip that
  has chunks to fold;
* ``audio.expected_ms_per_clip``: ``FixtureExpected.prepare`` + one row per
  clip;
* ``audio.snr_ms_per_clip``: ``audio.snr_db`` on decoded clips.

Standalone use (after one benchmark run has built a fixture), with the same
sample and repetitions as the traced run, so the numbers compare::

    python3 perfbench/kernel.py --clips-dir .perfbench_cache/<fixture>/clips
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CODECS = ("pcm_s16le", "flac", "opus", "mp3")
#: rows per Arrow batch, the engine's default ``maxRecordsPerBatch``
BATCH_ROWS = 2048
#: clips in the sample and repetitions per timing: at 512 x 3 the harness
#: takes about 4 s, which the traced run's 180 s limit can hold
SAMPLE_CLIPS = 512
REPS = 3


def clip_files(clips_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(clips_dir, "*.parquet")))


def read_clips(files: list[str]) -> pa.Table:
    """The rows of fixture files, in order, with the ``bucket_id`` column
    the batch body passes through."""
    t = pa.concat_tables(
        pq.read_table(f, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec"])
        for f in files
    )
    return t.append_column("bucket_id", pa.array(np.zeros(t.num_rows, np.int32)))


def load_sample(clips_dir: str) -> pa.Table:
    """The first ``SAMPLE_CLIPS`` rows of the fixture."""
    return read_clips(clip_files(clips_dir)).slice(0, SAMPLE_CLIPS)


def invariant_counts(path: str) -> tuple[int, dict[str, int]]:
    """``audio.invariant_batches`` over one fixture file: its row count and
    how many rows fail ``pcm_ok`` and ``meta_sr_ok`` or have a null
    payload (``bytes_null``)."""
    from engine import audio

    batches = read_clips([path]).to_batches(max_chunksize=BATCH_ROWS)
    rows, bad = 0, dict.fromkeys(("pcm_ok", "meta_sr_ok", "bytes_null"), 0)
    for rb in audio.invariant_batches(batches, audio.FixtureExpected(), audio.SNR_DB_MIN):
        rows += rb.num_rows
        for flag in bad:
            failed = rb.column(flag) if flag == "bytes_null" else pc.invert(rb.column(flag))
            bad[flag] += pc.sum(failed).as_py() or 0
    return rows, bad


def _best(fn) -> float:
    best = float("inf")
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def measure(sample: pa.Table) -> dict[str, float]:
    from engine import audio, flac, oggcrc

    expected = audio.FixtureExpected()
    out: dict[str, float] = {}

    for codec in CODECS:
        sub = sample.filter(pc.equal(sample["codec"], codec))
        batches = sub.to_batches(max_chunksize=BATCH_ROWS)

        def run_batches():
            for _ in audio.invariant_batches(batches, expected, audio.SNR_DB_MIN):
                pass

        out[f"audio.kernel_ms_per_clip.{codec}"] = (
            1e3 * _best(run_batches) / max(sub.num_rows, 1)
        )

    blobs = sample["bytes"].to_pylist()
    codecs = sample["codec"].to_pylist()
    native = [b for b, c in zip(blobs, codecs) if c == "flac" and b and b[:4] == b"fLaC"]

    def parse_all():
        for b in native:
            try:
                flac.parse(b)
            except ValueError:
                pass

    out["flac.parse_ms_per_clip"] = 1e3 * _best(parse_all) / max(len(native), 1)

    # chunks each clip hands to the batched folds (collected untimed)
    frames, pages, with_chunks = [], [], 0
    for b, c in zip(blobs, codecs):
        if not b:
            continue
        try:
            if c == "flac" and b[:4] == b"fLaC":
                got = flac.parse(b)[1]
                frames.extend(got)
            elif c in ("flac", "opus") and b[:4] == b"OggS":
                got = audio.walk_ogg_pages(b)[0]
                pages.extend(got)
            else:
                continue
        except (ValueError, NotImplementedError):
            continue
        with_chunks += bool(got)

    def fold(chunks, fn):
        if chunks:
            step = max(8, 262144 // max(len(c) for c in chunks))
            for i in range(0, len(chunks), step):
                fn(chunks[i : i + step])

    def fold_all():
        fold(frames, flac.crc16_many)
        fold(pages, oggcrc.crc32_many)

    out["crc.fold_ms_per_clip"] = 1e3 * _best(fold_all) / max(with_chunks, 1)

    ids = sample["clip_id"].to_pylist()
    srs = sample["sr_hz"].to_numpy(zero_copy_only=False)
    durs = sample["dur_ms"].to_numpy(zero_copy_only=False)

    def expect_all():
        row = expected.prepare(ids, srs, durs, codecs)
        for j in range(len(ids)):
            row(j)

    out["audio.expected_ms_per_clip"] = 1e3 * _best(expect_all) / max(len(ids), 1)

    row = expected.prepare(ids, srs, durs, codecs)
    pairs = []
    for j, (b, c) in enumerate(zip(blobs, codecs)):
        if b is None or c not in (None, "pcm_s16le", "flac"):
            continue
        try:
            pairs.append((row(j), audio.decode(b, c)))
        except (ValueError, NotImplementedError):
            continue

    def snr_all():
        for e, a in pairs:
            audio.snr_db(e, a)

    out["audio.snr_ms_per_clip"] = 1e3 * _best(snr_all) / max(len(pairs), 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--clips-dir", required=True, help="a fixture's clips/ directory")
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sample = load_sample(args.clips_dir)
    res = measure(sample)
    print(json.dumps({"clips": sample.num_rows, "reps": REPS,
                      **{k: round(v, 4) for k, v in res.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
