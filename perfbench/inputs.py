"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Audio (``audio_suite``, ``audio_curate``): the F1 clip table and F2
manifest for the index window ``[start, start + n)`` with
``start = (seed mod 10^6) * 666000``.  666000 is the lcm of the
fixture's violation-injection periods (100, 200, 333, 500, 1000, 2000),
so every window has the same violation layout while its payloads,
transcripts and ids differ.  ``start + n`` stays below ``10^12 - n`` so
``clip_id`` keeps its 12 digits.  Rows come from the per-index fixture
functions; ``audio_clips_df`` and ``reference_transcripts_df`` always
start at index 0, so they are not used here.

Table (``table_append``): TPC-H ``lineitem`` and ``orders`` from
DuckDB's built-in ``dbgen``.  The seed salts the hash that assigns each
row one of ``TABLE_PARTS`` ``part_id`` buckets and picks which half of
the buckets counts as already committed.

Generation runs in worker processes with no Spark session; the expected
results that the output checks compare against are computed here too,
from the oracle helpers, and stored next to the data.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
CACHE_LIMIT_BYTES = 3 * 1024 ** 3

WINDOW = 666_000
AUDIO_PARTS = 16
AUDIO_FILES = 8
MANIFEST_FILES = 2
PREPARE_SAMPLE = 48
PREPARE_WINDOW_MS = 5000

TABLE_SF = 0.01
TABLE_PARTS = 8
TABLE_FILES = 4
# orders whose key is a multiple of this are left out of the FK target,
# so the lineitem -> orders subset rule has a known set of misses
ORDERS_HOLE = 97

_GEN_PROCS = 4


def window_start(seed: int) -> int:
    return (seed % 1_000_000) * WINDOW


# ---------------------------------------------------------------- audio


def clip_row(i: int):
    """Row ``i`` of the clip table and the facts the suite simulation
    needs about it (declared columns plus the oracle's own decode of the
    generated bytes)."""
    import oracles
    from datatest_spark.fixtures import clip_id_for, clip_params, \
        synth_clip_bytes

    p = clip_params(i)
    src_i = p.dup_of if p.dup_of is not None else i
    src = clip_params(src_i)
    buf = synth_clip_bytes(src_i)
    row = (clip_id_for(i), buf, src.decl_sr, src.decl_dur_ms, src.codec,
           src.transcript, src_i % AUDIO_PARTS)
    try:
        dec, err = list(oracles._sim_decode(buf)), None
    except ValueError as e:
        dec, err = None, str(e)
    return row, [row[0], row[2], row[3], row[4], row[5], row[6], dec, err]


def _audio_chunk(args):
    """Write one clip part file; return its facts and payload bytes.
    Runs in a worker process, so the payload never travels back."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lo, hi, path = args
    rows, facts = [], []
    for i in range(lo, hi):
        row, fact = clip_row(i)
        rows.append(row)
        facts.append(fact)
    schema = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()),
        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
        ("codec", pa.string()), ("transcript", pa.string()),
        ("part_id", pa.int32()),
    ])
    table = pa.table([pa.array([r[k] for r in rows], type=f.type)
                      for k, f in enumerate(schema)], schema=schema)
    pq.write_table(table, path, row_group_size=256)
    return facts, sum(len(r[1]) for r in rows)


def _manifest_chunk(args):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datatest_spark.fixtures import (_transcript_words, clip_params,
                                         synth_pcm)

    lo, hi, path = args
    ids, refs, shas = [], [], []
    for i in range(lo, hi):
        p = clip_params(i)
        pcm = synth_pcm(i, p.true_sr, p.true_dur_ms)
        ids.append(f"clip-{i:012d}")
        refs.append(_transcript_words(i))
        shas.append(hashlib.sha256(pcm.astype("<i2").tobytes()).hexdigest())
    pq.write_table(pa.table({"clip_id": ids, "transcript_ref": refs,
                             "pcm_sha256": shas}), path)
    return hi - lo


def prepare_expected(i: int, threshold: int, window_ms: int,
                      target_dbfs: float = -20.0,
                      max_gain_db: float = 40.0):
    """Chunk rows of ``prepare_training_audio`` for clip ``i``, replayed
    with the decode/encode/gain/window logic of
    ``oracles.audio_prepare_rows`` (which only covers the window that
    starts at index 0).  The chunk payload is reported as its sha256."""
    import math

    import numpy as np

    import oracles
    from datatest_spark.fixtures import clip_id_for, clip_params, \
        synth_clip_bytes

    p = clip_params(i)
    src = p.dup_of if p.dup_of is not None else i
    clip_id = clip_id_for(i)
    try:
        _, sr, pcm = oracles._sim_decode_pcm(synth_clip_bytes(src))
    except ValueError:
        return [[clip_id, False, None, None, None, None, None, None]]
    active = np.nonzero(np.abs(pcm.astype(np.int64)) > threshold)[0]
    if len(active) == 0:
        return [[clip_id, True, None, None, None, sr, None, None]]
    seg = pcm[int(active[0]): int(active[-1]) + 1]
    m = len(seg)
    sum_sq = int(np.sum(seg.astype(np.int64) ** 2))
    rms_dbfs = 20.0 * math.log10(math.sqrt(sum_sq / m) / 32768.0)
    gain_db = min(max(target_dbfs - rms_dbfs, -max_gain_db), max_gain_db)
    peak = int(np.abs(seg.astype(np.int64)).max())
    gain_db = min(gain_db, 20.0 * math.log10(32767.0 / peak))
    scale = 10.0 ** (gain_db / 20.0)
    proc = np.clip(np.rint(seg.astype(np.float64) * scale),
                   -32768, 32767).astype("<i2")
    win = max(1, window_ms * sr // 1000)
    out = []
    k = 0
    while k * win < m:
        chunk = proc[k * win: k * win + win]
        ms = len(chunk) * 1000 // sr
        if ms >= 1:
            wav = oracles._sim_encode_wav(sr, chunk)
            sha = hashlib.sha256(wav).hexdigest()
            out.append([clip_id, True, k, k * win * 1000 // sr, ms, sr,
                        round(gain_db, 6), sha])
        k += 1
    return out


def _prepare_chunk(args):
    idxs, threshold, window_ms = args
    out = []
    for i in idxs:
        out.extend(prepare_expected(i, threshold, window_ms))
    return out


def suite_expected(facts, start: int, n: int, dur_tol_ms: int = 50):
    """Expected violation rows of ``validate_audio_table(df, manifest,
    check_snr=True)`` over the window: the rule-by-rule simulation of
    ``oracles.audio_suite_rows`` with its index range shifted to
    ``[start, start + n)`` and its decode taken from the facts (the
    oracle's ``_sim_decode`` of the generated bytes).  Every generated
    PCM matches its manifest sha, so no SNR rows are expected."""
    import re
    from collections import Counter

    from datatest_spark.fixtures import _transcript_words

    allowed_codecs = {"pcm_s16le", "flac", "opus"}
    allowed_srs = {8000, 16000, 22050, 44100, 48000}
    clip_re = re.compile(r"^clip-\d{12}$")
    out = []
    for clip_id, sr, dur, codec, transcript, part, dec, err in facts:
        ps = str(part)
        if sr < 8000:
            out.append(("interval:sr_hz", None, "sr_hz", "DEVIATION",
                        str(sr), "8000", float(sr - 8000), 8000.0, ps))
        elif sr > 48000:
            out.append(("interval:sr_hz", None, "sr_hz", "DEVIATION",
                        str(sr), "48000", float(sr - 48000), 48000.0, ps))
        if dur < 1:
            out.append(("interval:dur_ms", None, "dur_ms", "DEVIATION",
                        str(dur), "1", float(dur - 1), 1.0, ps))
        elif dur > 120_000:
            out.append(("interval:dur_ms", None, "dur_ms", "DEVIATION",
                        str(dur), "120000", float(dur - 120_000),
                        120_000.0, ps))
        if sr not in allowed_srs:
            out.append(("sr_hz:allowed", None, "sr_hz", "INVALID",
                        str(sr), None, None, None, ps))
        if not clip_re.search(clip_id):
            out.append(("regex:clip_id", None, "clip_id", "INVALID",
                        clip_id, None, None, None, ps))
    counts = Counter(f[0] for f in facts)
    for clip_id, c in sorted(counts.items()):
        for _ in range(c - 1):
            out.append(("unique:clip_id", None, "clip_id", "EXTRA",
                        clip_id, None, None, None, None))
    for v in sorted({f[3] for f in facts} - allowed_codecs):
        out.append(("subset:codec", None, "codec", "EXTRA",
                    v, None, None, None, None))
    for clip_id, sr, dur, codec, transcript, part, dec, err in facts:
        ps = str(part)
        if dec is None:
            out.append(("audio:decodable", clip_id, "bytes", "INVALID",
                        err, "decodable audio payload", None, None, ps))
            continue
        dec_codec, dec_sr, n_samples = dec
        dec_dur = int(round(1000.0 * n_samples / dec_sr))
        if dec_sr != sr:
            out.append(("audio:sr_hz", clip_id, "sr_hz", "DEVIATION",
                        str(sr), str(dec_sr), float(sr - dec_sr),
                        float(dec_sr), ps))
        if abs(dec_dur - dur) > dur_tol_ms:
            out.append(("audio:dur_ms", clip_id, "dur_ms", "DEVIATION",
                        str(dur), str(dec_dur), float(dur - dec_dur),
                        float(dec_dur), ps))
        if dec_codec != codec:
            out.append(("audio:codec", clip_id, "codec", "INVALID",
                        codec, dec_codec, None, None, ps))
    manifest_hi = start + n + max(1, n // 100)
    for v in sorted({f[0] for f in facts}
                    - {f"clip-{i:012d}" for i in range(start, manifest_hi)}):
        out.append(("subset:clip_id_manifest", None, "clip_id", "EXTRA",
                    v, None, None, None, None))
    for clip_id, sr, dur, codec, transcript, part, dec, err in facts:
        idx = int(clip_id[5:])
        ref = _transcript_words(idx) if start <= idx < manifest_hi else None
        if transcript == ref or ref is None:
            continue
        out.append(("ref_match:transcript", clip_id, "transcript",
                    "INVALID", transcript, ref, None, None, str(part)))
    return out


def _splits(lo: int, hi: int, k: int):
    step = -(-(hi - lo) // k)
    return [(a, min(a + step, hi)) for a in range(lo, hi, step)]


def audio_inputs(seed: int, n: int) -> dict:
    """Paths and expected results of the clip table for ``(seed, n)``,
    generating them on first use."""
    start = window_start(seed)
    d = os.path.join(CACHE, f"audio_s{start // WINDOW}_n{n}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    _evict()
    t0 = time.time()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "clips"))
    os.makedirs(os.path.join(tmp, "manifest"))
    clip_jobs = [(a, b, os.path.join(tmp, "clips", f"part-{k:03d}.parquet"))
                 for k, (a, b) in enumerate(_splits(start, start + n,
                                                    AUDIO_FILES))]
    n_manifest = n + max(1, n // 100)
    man_jobs = [(a, b, os.path.join(tmp, "manifest",
                                    f"part-{k:03d}.parquet"))
                for k, (a, b) in enumerate(_splits(start, start + n_manifest,
                                                   MANIFEST_FILES))]
    sample = sorted(random.Random(seed).sample(range(start, start + n),
                                               min(PREPARE_SAMPLE, n)))
    from datatest_spark.audio import SILENCE_THRESHOLD

    prep_jobs = [(sample[k::_GEN_PROCS], SILENCE_THRESHOLD,
                  PREPARE_WINDOW_MS) for k in range(_GEN_PROCS)]
    pool = multiprocessing.get_context("spawn").Pool(_GEN_PROCS)
    try:
        clip_res = pool.map_async(_audio_chunk, clip_jobs)
        man_res = pool.map_async(_manifest_chunk, man_jobs)
        prep_res = pool.map_async(_prepare_chunk, prep_jobs)
        facts, payload = [], 0
        for f, b in clip_res.get():
            facts.extend(f)
            payload += b
        man_res.get()
        prepare = sorted((r for chunk in prep_res.get() for r in chunk),
                         key=lambda r: (r[0], -1 if r[2] is None else r[2]))
        pool.close()
    except BaseException:
        pool.terminate()
        raise
    finally:
        pool.join()
    meta = {
        "seed": seed, "start": start, "n": n,
        "clips": os.path.join(d, "clips"),
        "manifest": os.path.join(d, "manifest"),
        "payload_bytes": payload,
        "suite_expected": suite_expected(facts, start, n),
        "prepare_sample": [f"clip-{i:012d}" for i in sample],
        "prepare_expected": prepare,
        "gen_s": time.time() - t0,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, d)
    return meta


# ---------------------------------------------------------------- table


def _tpch_base() -> str:
    """Seed-independent TPC-H tables (DuckDB dbgen), written once."""
    d = os.path.join(CACHE, f"tpch_sf{TABLE_SF}")
    if os.path.exists(os.path.join(d, "orders.parquet")):
        return d
    import duckdb

    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar=false")
        con.execute(f"CALL dbgen(sf={TABLE_SF})")
        con.execute(f"COPY lineitem TO '{tmp}/lineitem.parquet' "
                    "(FORMAT PARQUET)")
        con.execute(f"COPY (SELECT * FROM orders WHERE o_orderkey % "
                    f"{ORDERS_HOLE} <> 0) TO '{tmp}/orders.parquet' "
                    "(FORMAT PARQUET)")
    finally:
        con.close()
    os.replace(tmp, d)
    return d


def table_inputs(seed: int) -> dict:
    """Paths and partition split of the seeded lineitem table."""
    d = os.path.join(CACHE, f"lineitem_sf{TABLE_SF}_p{TABLE_PARTS}_seed{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    _evict()
    t0 = time.time()
    base = _tpch_base()
    import duckdb

    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "lineitem"))
    salt = int.from_bytes(hashlib.sha256(str(seed).encode()).digest()[:4],
                          "little")
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar=false")
        con.execute("SET threads=4")
        for k in range(TABLE_FILES):
            con.execute(
                f"COPY (SELECT *, CAST(hash(l_orderkey * 8 + l_linenumber "
                f"+ {salt}) % {TABLE_PARTS} AS INTEGER) AS part_id "
                f"FROM '{base}/lineitem.parquet' "
                f"WHERE l_orderkey % {TABLE_FILES} = {k}) "
                f"TO '{tmp}/lineitem/part-{k:03d}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()
    parts = list(range(TABLE_PARTS))
    committed = sorted(random.Random(seed).sample(parts, TABLE_PARTS // 2))
    meta = {
        "seed": seed,
        "lineitem": os.path.join(d, "lineitem"),
        "orders": os.path.join(base, "orders.parquet"),
        "committed_parts": committed,
        "new_parts": [p for p in parts if p not in committed],
        "gen_s": time.time() - t0,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, d)
    return meta


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def _evict() -> None:
    """Keep the cache under ``CACHE_LIMIT_BYTES``, oldest inputs first."""
    if not os.path.isdir(CACHE):
        os.makedirs(CACHE)
        return
    entries = []
    for name in os.listdir(CACHE):
        p = os.path.join(CACHE, name)
        if name.startswith("tpch_") or not os.path.isdir(p):
            continue
        entries.append((os.path.getmtime(p), _dir_bytes(p), p))
    total = sum(e[1] for e in entries)
    for _, size, p in sorted(entries):
        if total <= CACHE_LIMIT_BYTES:
            break
        shutil.rmtree(p, ignore_errors=True)
        total -= size
