"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and ``content_hash`` fingerprints what was
written so a result records exactly which inputs it measured.

* ``dicom_plan`` / ``write_tree`` / ``write_landing`` — the ingest
  workload's Part-10 tree (``PROTO_*/suj_*/S*_*/``) and its second
  arrival wave, encoded with ``sources.dicom.encode_minimal_dicom``.
  ``expected_exams`` derives the exam rows the import must produce
  from the plan alone, independently of the engine.
* ``write_neardup_tables`` — the parquet tables the near-dup queries
  read, with the schemas of the sf* test data and a planted hot LSH
  cluster.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dicomdb_spark.sources.dicom import encode_minimal_dicom

TS_IMPLICIT_LE = "1.2.840.10008.1.2"
TS_EXPLICIT_LE = "1.2.840.10008.1.2.1"
SEQUENCES = ("tfl3d1", "epfid2d1_64", "spc3d1", "fm2d2r", "ep_b1000")
ECHO_TIMES = (2.26, 3.02, 4.92, 30.0, 88.0)
SERIES_PER_EXAM = 8
FILES_PER_SERIES = 10
# pixel payload: the header walk stops before it, the scan still reads it
PIXELS = bytes(range(256)) * 16


@dataclass(frozen=True)
class DicomFile:
    """One generated file: where it lands and the header it carries."""

    relpath: str
    wave: int
    corrupt: bool  # no DICM magic: the sniff must drop it
    euid: str
    date: str
    suid: str
    snum: int
    te: float
    inst: int
    secs: int  # acquisition time, seconds of day
    implicit: bool
    csa_only: bool
    seq: str


def _hhmmss(secs: int) -> str:
    secs %= 86400
    return f"{secs // 3600:02d}{secs % 3600 // 60:02d}{secs % 60:02d}.000000"


def dicom_plan(seed: int, n_exams: int = 24, wave2_exams: int = 3) -> list[DicomFile]:
    """The full file list of both waves, as a pure function of the seed.

    Wave 1 holds ``n_exams`` exams of ``SERIES_PER_EXAM`` series with
    ``FILES_PER_SERIES`` files each, so the input size never depends on
    the seed.
    Wave 2 adds one late series to every fourth wave-1 exam plus
    ``wave2_exams`` new exams.  Variants: every 13th file is corrupt
    (no DICM magic), every 7th encodes implicit VR, every 5th carries
    its SequenceName only in the CSA header; one series in 12 has a
    duplicated InstanceNumber and one in 12 a missing one; one series
    in 10 is dual-echo (two stacks); one exam in 8 runs across midnight.
    """
    rng = random.Random(seed)
    files: list[DicomFile] = []
    counter = [0]

    def series(exam: dict, suid: str, snum: int, start: int, wave: int) -> int:
        """Emit one series' files; returns its end time (seconds)."""
        n = FILES_PER_SERIES
        insts = list(range(1, n + 1))
        kind = rng.randrange(12)
        if kind == 0:  # duplicated InstanceNumber
            k = rng.randrange(1, n)
            insts[k] = insts[k - 1]
        elif kind == 1:  # missing InstanceNumber: a gap in the numbering
            k = rng.randrange(1, n)
            insts = insts[:k] + [i + 1 for i in insts[k:]]
        dual = rng.randrange(10) == 0
        tes = rng.sample(ECHO_TIMES, 2) if dual else [rng.choice(ECHO_TIMES)]
        seq = rng.choice(SEQUENCES)
        step = rng.randint(1, 6)
        t = start
        for j, inst in enumerate(insts):
            t = start + j * step
            counter[0] += 1
            c = counter[0]
            files.append(
                DicomFile(
                    relpath=f"{exam['proto']}/{exam['suj']}/S{snum:02d}_{seq}/"
                    f"f{c:06d}.dcm",
                    wave=wave,
                    corrupt=c % 13 == 0,
                    euid=exam["euid"],
                    date=exam["date"],
                    suid=suid,
                    snum=snum,
                    te=tes[j % len(tes)],
                    inst=inst,
                    secs=t % 86400,
                    implicit=c % 7 == 0,
                    csa_only=c % 5 == 0,
                    seq=seq,
                )
            )
        return t + rng.randint(30, 300)

    def exam(idx: int, wave: int) -> dict:
        day = 1 + rng.randrange(300)
        late = rng.randrange(8) == 0
        e = {
            "euid": f"1.2.826.0.1.{seed}.{idx}",
            "date": f"2024{1 + (day - 1) // 28 % 12:02d}{1 + (day - 1) % 28:02d}",
            "proto": f"PROTO_{rng.randrange(3)}",
            "suj": f"suj_{idx:03d}",
            "n_series": 0,
            "t": 23 * 3600 + 1800 if late else rng.randint(7 * 3600, 19 * 3600),
        }
        for _ in range(SERIES_PER_EXAM):
            add_series(e, wave)
        return e

    def add_series(e: dict, wave: int) -> None:
        e["n_series"] += 1
        # one series in 20 reuses the previous SeriesNumber: ties inside
        # an exam are broken by SeriesInstanceUID
        snum = e["n_series"] - (1 if e["n_series"] > 1 and rng.randrange(20) == 0 else 0)
        suid = f"{e['euid']}.{e['n_series']}"
        e["t"] = series(e, suid, snum, e["t"], wave)

    exams = [exam(i, 1) for i in range(n_exams)]
    for e in exams[::4]:
        add_series(e, 2)
    for i in range(wave2_exams):
        exam(n_exams + i, 2)
    return files


def encode(f: DicomFile) -> bytes:
    if f.corrupt:
        return b"\x00" * 200 + PIXELS[:512]
    fields = {
        "SeriesInstanceUID": f.suid,
        "StudyInstanceUID": f.euid,
        "SeriesNumber": str(f.snum),
        "InstanceNumber": str(f.inst),
        "EchoTime": repr(f.te),
        "AcquisitionDate": f.date,
        "AcquisitionTimeRaw": _hhmmss(f.secs),
        "Manufacturer": "SIEMENS",
        "RepetitionTime": "2300",
        "ImageType": ["ORIGINAL", "PRIMARY"],
    }
    if f.csa_only:
        fields["csa_image"] = {"SequenceName": f.seq}
    else:
        fields["SequenceName"] = f.seq
    return encode_minimal_dicom(
        fields,
        transfer_syntax=TS_IMPLICIT_LE if f.implicit else TS_EXPLICIT_LE,
        with_pixels=PIXELS,
    )


# files the inventory's name filters drop; they never reach the parser
JUNK = ("dicom_info.txt", "series.xml", ".DS_Store")


def write_tree(root: str, files: list[DicomFile]) -> int:
    """Write wave-1 files under ``root``; returns how many were written
    (junk files included)."""
    n = 0
    dirs = set()
    for f in files:
        if f.wave != 1:
            continue
        path = os.path.join(root, f.relpath)
        d = os.path.dirname(path)
        if d not in dirs:
            os.makedirs(d, exist_ok=True)
            dirs.add(d)
        with open(path, "wb") as fh:
            fh.write(encode(f))
        n += 1
    for i, d in enumerate(sorted(dirs)[::9]):
        with open(os.path.join(d, JUNK[i % len(JUNK)]), "wb") as fh:
            fh.write(b"\x00" * 128 + b"DICM" + b"junk")
        n += 1
    return n


def write_landing(path: str, files: list[DicomFile], tree_root: str) -> int:
    """Land the second wave as one ``(path, content)`` parquet file, the
    shape ``pipeline.incremental_import_stream`` consumes."""
    rows = [f for f in files if f.wave == 2]
    table = pa.table(
        {
            "path": ["file:" + os.path.join(tree_root, f.relpath) for f in rows],
            "content": [encode(f) for f in rows],
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "wave2.parquet"))
    return len(rows)


def expected_exams(files: list[DicomFile], waves: tuple[int, ...] = (1, 2)) -> list[tuple]:
    """Exam rows ``(EUID, AcquisitionDate, n_series, ExamDuration,
    FirstSerieName)`` derived from the plan, following the reference's
    rules: a stack is (SeriesInstanceUID, SeriesNumber, EchoTime); its
    duration is the time between its first two files by
    (InstanceNumber, file name) with midnight rollover; an exam's
    duration is ceil((last stack start - first stack start + last
    stack duration) / 60) minutes, first/last by (SeriesNumber,
    SeriesInstanceUID, EchoTime)."""
    stacks: dict[tuple, list[DicomFile]] = {}
    for f in files:
        if f.wave in waves and not f.corrupt:
            stacks.setdefault((f.suid, f.snum, f.te), []).append(f)
    exams: dict[tuple, list[tuple]] = {}
    for key, fs in stacks.items():
        fs = sorted(fs, key=lambda f: (f.inst, os.path.basename(f.relpath)))
        dur = None
        if len(fs) >= 2:
            dur = fs[1].secs - fs[0].secs
            if dur < 0:
                dur += 86400
        first = min(f.secs for f in fs)
        exams.setdefault((fs[0].euid, fs[0].date), []).append(
            ((key[1], key[0], key[2]), first, dur)
        )
    out = []
    for (euid, date), ss in exams.items():
        ss.sort()
        (_, suid0, _), first_start, _ = ss[0]
        _, last_start, last_dur = ss[-1]
        d = last_start - first_start
        if d < 0:
            d += 86400
        d += last_dur or 0
        out.append((euid, date, len(ss), math.ceil(d / 60.0), suid0))
    return sorted(out)


# -- tables for the neardup workload ------------------------------------------

_WORDS = (
    "a the of and to in is it data spark query table row column value key "
    "scan sort join group agg filter window stream batch merge hash order "
    "line part customer vector fast slow big small"
).split()
_LANGS = ("en", "en", "en", "fr", "de", "es", "zh")


def _write(dir_: str, name: str, table: pa.Table) -> None:
    os.makedirs(dir_, exist_ok=True)
    pq.write_table(table, os.path.join(dir_, f"{name}.parquet"))


def write_neardup_tables(
    dir_: str, seed: int, n_docs: int, n_vecs: int, n_hot: int, dims: int = 64
) -> None:
    """documents + embeddings.  Documents draw words from a small
    vocabulary (so shingles are shared, as in the sf* corpus) and one in
    eight is an edited copy of an earlier one.  The embeddings plant one
    hot cluster: ``n_hot`` vectors around one centre far from every
    seed hyperplane (the first eight vectors), so all of them share a
    single LSH bucket."""
    rng = np.random.default_rng(seed)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 8 and rng.random() < 0.125:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        else:
            toks = words[rng.integers(0, len(words), int(rng.integers(8, 80)))].tolist()
        texts.append(" ".join(toks))
    _write(dir_, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 5, n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))
    vec = rng.standard_normal((n_vecs, dims)).astype(np.float32) * 0.1
    planes = vec[:8].astype(np.float64)
    # centre: the minimum-norm point with a unit-size dot of random sign
    # against every plane, so the noise below never crosses a boundary
    signs = rng.choice([-1.0, 1.0], 8)
    c = planes.T @ np.linalg.solve(planes @ planes.T, signs)
    c *= 0.3 / np.linalg.norm(c)
    hot = (c + rng.standard_normal((n_hot, dims)) * 0.003).astype(np.float32)
    emb = np.concatenate([vec, hot])
    n = len(emb)
    _write(dir_, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }))


def content_hash(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes),
    in sorted order: the fingerprint of a generated input."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
