"""End-to-end test of the E1 import pipeline on a synthetic tree."""

from __future__ import annotations

import pytest

from dicomdb_spark import pipeline


def deterministic_parser(content: bytes) -> dict:
    """Parser deriving fields from the path payload baked into the
    file bytes by the fixture (after the 132-byte preamble)."""
    tail = content[132:].decode()
    proto, suj, ser, inst, day = tail.split("|")
    return {
        "SeriesInstanceUID": f"{suj}.{ser}",
        "StudyInstanceUID": f"study.{suj}.{day}",
        "SeriesNumber": int(ser[1:3]),
        "InstanceNumber": int(inst),
        "EchoTime": 2.5,
        "AcquisitionDate": day,
        "AcquisitionTimeRaw": f"{8 + int(ser[1:3]):02d}{int(inst):02d}00.000000",
        "ImageType": ["ORIGINAL", "PRIMARY"],
        "csa_meta": {},
    }


@pytest.fixture(scope="module")
def exam_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("exams")
    # subj01 has two acquisition dates → must sessionize into 2 exams
    layout = {
        ("PROTO_A", "subj01", "S01_mprage", "20240101"): [1, 2, 3],
        ("PROTO_A", "subj01", "S02_epi", "20240101"): [1, 2],
        ("PROTO_A", "subj01", "S03_dwi", "20240102"): [1, 2],
        ("PROTO_A", "subj02", "S01_mprage", "20240101"): [1, 2, 2, 4],  # dup + gap
    }
    for (proto, suj, ser, day), instances in layout.items():
        d = root / proto / suj / ser
        d.mkdir(parents=True, exist_ok=True)
        for k, inst in enumerate(instances):
            payload = b"\x00" * 128 + b"DICM" + f"{proto}|{suj}|{ser}|{inst}|{day}".encode()
            (d / f"im{k}.dic").write_bytes(payload)
    return str(root)


def test_pipeline_end_to_end(spark, exam_tree):
    headers = pipeline.extract_headers(
        spark, exam_tree, parser=deterministic_parser, proto_reg="^PROTO"
    )
    assert headers.count() == 11

    serie = pipeline.build_serie_frame(headers)
    srows = {r.SeriesInstanceUID: r for r in serie.collect()}
    assert len(srows) == 4
    # subj02's stack caught both the duplicate and the gap (R8 audits)
    bad = srows["subj02.S01_mprage"]
    assert bad.n_duplicates == 1 and bad.n_missing == 1
    assert "1Duplicate" in bad.corrupt and "missingDicomFile_1" in bad.corrupt
    assert srows["subj01.S01_mprage"].corrupt == "ok"

    exams = pipeline.build_exam_frame(serie)
    erows = {(r.EUID, r.AcquisitionDate): r for r in exams.collect()}
    # sessionize: subj01 splits into two exams by date (W3)
    assert ("study.subj01.20240101", "20240101") in erows
    assert ("study.subj01.20240102", "20240102") in erows
    e = erows[("study.subj01.20240101", "20240101")]
    assert e.n_series == 2
    # duration: first_start 09:01:00, last_start 10:01:00 → 3600 s
    # + last series duration (instance2−instance1 = 60 s) → 3660 → 61 min
    assert e.ExamDuration == pytest.approx(61)

    classified = pipeline.classify_against_db(
        exams.select("EUID", "AcquisitionDate", "n_series", "ExamDuration"),
        exams.select("EUID", "AcquisitionDate", "n_series", "ExamDuration").limit(1),
        keys=["EUID"],
        compare_cols=["n_series", "ExamDuration"],
    )
    acts = sorted(r.action for r in classified.collect())
    assert acts.count("noop") == 1 and acts.count("insert") == 2


def test_streaming_ingest_equals_batch(spark, exam_tree, tmp_path):
    """The streaming incremental path must converge to the same serie
    table as the batch pipeline — the reference's cron-mtime contract
    (S2) expressed as stream/batch equivalence."""
    from pyspark.sql import functions as F

    from dicomdb_spark.streaming import incremental as stream

    headers = pipeline.extract_headers(
        spark, exam_tree, parser=deterministic_parser, proto_reg="^PROTO"
    )
    batch_serie = pipeline.build_serie_frame(headers).select(
        "SeriesInstanceUID", "nb_dic_file", "n_duplicates", "n_missing", "corrupt"
    )
    batch_rows = sorted(map(tuple, batch_serie.collect()))

    # persist headers as the streaming landing zone, feed them through
    # the file stream in 1-file micro-batches, rebuild per batch with
    # foreachBatch and an accumulating target
    landing = str(tmp_path / "landing")
    headers.write.mode("overwrite").parquet(landing)
    target: dict[str, tuple] = {}
    accumulated = []

    def fe(batch_df, epoch_id):
        accumulated.append(batch_df.collect())
        raw = spark.createDataFrame(
            [r for rows in accumulated for r in rows], headers.schema
        )
        for r in (
            pipeline.build_serie_frame(raw)
            .select(
                "SeriesInstanceUID", "nb_dic_file", "n_duplicates", "n_missing", "corrupt"
            )
            .collect()
        ):
            target[r.SeriesInstanceUID] = tuple(r)

    s = stream.stream_inventory(
        spark, landing, headers.schema, fmt="parquet", max_files_per_trigger=1
    )
    q = (
        s.writeStream.foreachBatch(fe)
        .option("checkpointLocation", str(tmp_path / "ck_ingest"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(target.values()) == batch_rows


@pytest.fixture(scope="module")
def part10_tree(tmp_path_factory):
    """The same exam layout as ``exam_tree`` but as REAL Part-10 byte
    streams — parsed by the engine's built-in minimal reader, no
    injected parser."""
    from dicomdb_spark.sources.dicom import encode_minimal_dicom

    root = tmp_path_factory.mktemp("exams_p10")
    layout = {
        ("PROTO_A", "subj01", "S01_mprage", "20240101"): [1, 2, 3],
        ("PROTO_A", "subj01", "S02_epi", "20240101"): [1, 2],
        ("PROTO_A", "subj01", "S03_dwi", "20240102"): [1, 2],
        ("PROTO_A", "subj02", "S01_mprage", "20240101"): [1, 2, 2, 4],
    }
    for (proto, suj, ser, day), instances in layout.items():
        d = root / proto / suj / ser
        d.mkdir(parents=True, exist_ok=True)
        sn = int(ser[1:3])
        for k, inst in enumerate(instances):
            blob = encode_minimal_dicom(
                {
                    "SeriesInstanceUID": f"{suj}.{ser}",
                    "StudyInstanceUID": f"study.{suj}.{day}",
                    "SeriesNumber": str(sn),
                    "InstanceNumber": str(inst),
                    "EchoTime": "2.5",
                    "AcquisitionDate": day,
                    "AcquisitionTimeRaw": f"{8 + sn:02d}{inst:02d}00.000000",
                    "ImageType": ["ORIGINAL", "PRIMARY"],
                    "csa_image": {"SequenceName": ser.split("_")[1]},
                }
            )
            (d / f"im{k}.dic").write_bytes(blob)
    return str(root)


def test_pipeline_end_to_end_real_part10(spark, part10_tree):
    """The full E1 flow — scan → regex descent → DICM sniff → byte-level
    Part-10 parse (built-in reader, CSA fallback) → stack assembly →
    exam sessionization — over real encoded files, no injected parser."""
    headers = pipeline.extract_headers(spark, part10_tree, proto_reg="^PROTO")
    hrows = headers.collect()
    assert len(hrows) == 11
    assert all(r.SeriesInstanceUID for r in hrows)
    assert all(r.csa_meta.get("SequenceName") for r in hrows)

    serie = pipeline.build_serie_frame(headers)
    srows = {(r.SeriesInstanceUID): r for r in serie.collect()}
    assert srows["subj02.S01_mprage"].n_duplicates == 1
    assert "missingDicomFile" in srows["subj02.S01_mprage"].corrupt
    assert srows["subj01.S01_mprage"].corrupt == "ok"

    exams = {(r.EUID, r.AcquisitionDate): r for r in
             pipeline.build_exam_frame(serie).collect()}
    # subj01 sessionizes into two exams by date; subj02 one
    assert len(exams) == 3
    assert exams[("study.subj01.20240101", "20240101")].n_series == 2


def test_serie_frame_drops_null_stack_keys(spark, tmp_path):
    """A file whose SeriesNumber or EchoTime is NULL has an incomplete
    stack key: it yields no serie row, and the complete series beside
    it keeps only its own files."""

    def parser(content: bytes) -> dict:
        uid, sn, echo, inst = content[132:].decode().split("|")
        return {
            "SeriesInstanceUID": uid,
            "StudyInstanceUID": "study.1",
            "SeriesNumber": int(sn) if sn else None,
            "InstanceNumber": int(inst),
            "EchoTime": float(echo) if echo else None,
            "AcquisitionDate": "20240101",
            "AcquisitionTimeRaw": f"0900{int(inst):02d}.000000",
        }

    files = {
        "S01_good": [("good", "1", "2.5", i) for i in (1, 2, 3)]
        + [("good", "", "2.5", 4)],
        "S02_noecho": [("noecho", "2", "", 1)],
    }
    for ser, recs in files.items():
        d = tmp_path / "PROTO_A" / "subj01" / ser
        d.mkdir(parents=True)
        for k, rec in enumerate(recs):
            payload = "|".join(map(str, rec)).encode()
            (d / f"im{k}.dic").write_bytes(b"\x00" * 128 + b"DICM" + payload)

    headers = pipeline.extract_headers(spark, str(tmp_path), parser=parser)
    assert headers.count() == 5
    rows = pipeline.build_serie_frame(headers).collect()
    assert [(r.SeriesInstanceUID, r.SeriesNumber, r.nb_dic_file) for r in rows] == [
        ("good", 1, 3)
    ]
