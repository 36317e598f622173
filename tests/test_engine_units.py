"""Unit tests for the engine surface not covered by the DuckDB oracle:
sources, pandas-UDF operators, streaming, sinks, domain views."""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile
from pathlib import Path

import pytest

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from dicomdb_spark.llm import multimodal as mm
from dicomdb_spark.operators import joins as oj
from dicomdb_spark.operators import stacks
from dicomdb_spark.sources import dicom as dsrc
from dicomdb_spark.sources import inventory as inv
from dicomdb_spark.sources import jdbc
from dicomdb_spark.streaming import incremental as stream
from dicomdb_spark import views


# ---------------------------------------------------------------- sources
@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    """A tiny proto/suj/ser directory tree with DICM and non-DICM files."""
    root = tmp_path_factory.mktemp("tree")
    for proto in ("PROTO_A", "OTHER_B"):
        for suj in ("subj01", "subj02"):
            for ser in ("S01_mprage", "S02_epi", "notaserie"):
                d = root / proto / suj / ser
                d.mkdir(parents=True)
                payload = b"\x00" * 128 + b"DICM" + f"{proto}/{suj}/{ser}".encode()
                (d / "f1.dic").write_bytes(payload)
                (d / "f2.dic").write_bytes(payload + b"x")
    (root / "PROTO_A" / "subj01" / "S01_mprage" / "junk.xml").write_bytes(b"<x/>")
    return str(root)


def test_scan_and_regex_descent(spark, tree):
    files = inv.scan_files(spark, tree, glob="*")
    leveled = inv.split_tree_levels(files)
    filtered = inv.regex_descent(leveled, proto_reg="^PROTO", ser_reg="^S")
    rows = filtered.collect()
    assert all(r.proto == "PROTO_A" and r.ser.startswith("S") for r in rows)
    assert len(rows) == 2 * 2 * 2 + 1  # 2 suj × 2 series × 2 files + junk.xml
    clean = inv.path_name_filters(filtered)
    assert len(clean.collect()) == 8


def test_dicom_magic(spark, tree):
    files = inv.scan_files(spark, tree)
    flagged = files.withColumn("is_dicom", inv.is_dicom_magic())
    rows = flagged.collect()
    dic = [r for r in rows if r.path.endswith(".dic")]
    xml = [r for r in rows if r.path.endswith(".xml")]
    assert all(r.is_dicom for r in dic)
    assert all(not r.is_dicom for r in xml)


def test_modified_after_prunes(spark, tree):
    future = (dt.datetime.now() + dt.timedelta(days=1)).strftime("%Y-%m-%dT%H:%M:%S")
    assert inv.scan_files(spark, tree, modified_after=future).count() == 0


def test_id_path_list_dup_check(spark, tmp_path):
    good = tmp_path / "good.csv"
    good.write_text("a,/x\nb,/y\n")
    assert inv.read_id_path_list(spark, str(good)).count() == 2
    bad = tmp_path / "bad.csv"
    bad.write_text("a,/x\na,/y\n")
    with pytest.raises(ValueError, match="duplicate id"):
        inv.read_id_path_list(spark, str(bad))


def test_header_parse_stub(spark, tree):
    files = inv.scan_files(spark, tree, glob="*.dic")
    parsed = dsrc.parse_headers(files, parser=dsrc.synthetic_parser)
    rows = parsed.collect()
    assert len(rows) == 24
    r = rows[0]
    assert r.SeriesInstanceUID.startswith("1.2.3.")
    assert isinstance(r.ImageType, list) and r.ImageType[0] == "ORIGINAL"
    assert "raw_len" in r.csa_meta


def test_header_parse_default_is_minimal_reader(spark, tree):
    # the built-in Part-10 reader is the default parser now; fixture
    # files that aren't valid Part-10 degrade to corrupt-flagged rows
    files = inv.scan_files(spark, tree, glob="*.dic").limit(2)
    rows = dsrc.parse_headers(files).collect()
    # DICM-magic files with garbage bodies must yield NULL-field rows
    # (not exceptions): one row per input, nothing parsed, no crash
    assert len(rows) == 2
    for r in rows:
        assert r.path and r.SeriesInstanceUID is None


# ------------------------------------------------------------- U3 stacks
def test_assemble_stacks(spark):
    rows = []
    # stack A: instances 1,2,3 + a duplicate 2  → 1Duplicate
    for i, inst in enumerate([1, 2, 2, 3]):
        rows.append(
            Row(
                SeriesInstanceUID="A",
                SeriesNumber=1,
                EchoTime=2.5,
                path=f"/a/f{i}.dic",
                InstanceNumber=inst,
                acq_seconds=float(3600 + inst),
            )
        )
    # stack B: instances 1,3,4 → missingDicomFile_1; rollover duration
    for i, inst in enumerate([1, 3, 4]):
        rows.append(
            Row(
                SeriesInstanceUID="B",
                SeriesNumber=2,
                EchoTime=2.5,
                path=f"/b/f{i}.dic",
                InstanceNumber=inst,
                acq_seconds=[86390.0, 5.0, 10.0][i],
            )
        )
    df = spark.createDataFrame(rows)
    out = {r.SeriesInstanceUID: r for r in stacks.assemble_stacks(df).collect()}
    a, b = out["A"], out["B"]
    assert a.n_duplicates == 1 and a.corrupt == "1Duplicate"
    assert a.nb_dic_file == 4 and a.first_file == "/a/f0.dic"
    assert b.n_missing == 1 and "missingDicomFile_1" in b.corrupt
    # midnight rollover: 5 − 86390 + 86400 = 15
    assert b.duration_s == 15.0


def test_rotate_bvecs_identity(spark):
    # identity rotation: affine rows = x̂, ŷ → bvecs unchanged (mod flip)
    rows = [
        Row(
            SeriesInstanceUID="S",
            volume_index=i,
            bvec=[float(i), 0.0, 1.0],
            bval=1000.0,
            affine=[1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0],
            flip_sign=[1.0, -1.0, 1.0],
        )
        for i in range(3)
    ]
    out = stacks.rotate_bvecs(spark.createDataFrame(rows)).collect()[0]
    assert out.bvals == [1000.0] * 3
    assert out.bvecs_rotated[2][0] == pytest.approx(2.0)
    assert out.bvecs_rotated[1] == pytest.approx([1.0, 0.0, 1.0])


def test_assemble_null_instance_degrades_to_flag(spark):
    # a NULL InstanceNumber must not kill the stage (int(NaN)); it is
    # counted into the corrupt flag and excluded from gap detection
    rows = [
        Row(SeriesInstanceUID="N", SeriesNumber=1, EchoTime=0.0,
            path=f"/n/f{i}.dic", InstanceNumber=inst, acq_seconds=float(i))
        for i, inst in enumerate([1, None, 2])
    ]
    out = stacks.assemble_stacks(spark.createDataFrame(rows)).collect()[0]
    assert out.nb_dic_file == 3
    assert "nullInstanceNumber_1" in out.corrupt
    assert out.n_missing == 0 and out.n_duplicates == 0


_STACK_IN_SCHEMA = (
    "SeriesInstanceUID string, SeriesNumber int, EchoTime double, "
    "path string, InstanceNumber int, acq_seconds double, "
    "StudyInstanceUID string, AcquisitionDate string"
)


def _linked_stacks_reference(h):
    """The exam linkage as a separate aggregate joined back onto the
    stacks: the formulation the fused kernel must reproduce."""
    keys = list(stacks.STACK_KEYS)
    assembled = stacks.assemble_stacks(h.drop(*stacks.LINK_COLS))
    link = h.groupBy(*keys).agg(
        F.min_by("StudyInstanceUID", "InstanceNumber").alias("EUID"),
        F.min_by("AcquisitionDate", "InstanceNumber").alias("AcquisitionDate"),
        F.min("acq_seconds").alias("first_acq_seconds"),
    )
    return assembled.join(link, keys)


def test_assemble_stacks_groups_span_arrow_batches(spark):
    # r13 optimization regression: the vectorized mapInPandas kernel
    # must carry a stack whose rows straddle Arrow batch boundaries
    # (tiny maxRecordsPerBatch forces multi-batch groups) and still
    # reproduce the per-group fold's numbers exactly — and, given the
    # exam key columns, the stacks ⋈ min_by link rows exactly
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = []

        def add(uid, sn, echo, path, inst, secs, study="st", day="20240101"):
            rows.append((uid, sn, echo, path, inst, secs, study, day))

        # stack X: instances 1..40 each twice (40 dups), plus inst 45
        # (4 missing: 41-44); the linkage must come from inst 1
        for i in range(40):
            for rep in range(2):
                add("X", 1, 1.0, f"/x/f{i}_{rep}.dic", i + 1, float(100 + i),
                    study="st.X" if i == 0 else f"late.X{i}",
                    day="20240101" if i == 0 else "20240102")
        add("X", 1, 1.0, "/x/tail.dic", 45, 86399.0, study="late.X45")
        # stack Y: clean 1..3, rollover duration (86390 -> 5)
        for i, sec in enumerate([86390.0, 5.0, 10.0]):
            add("Y", 1, 1.0, f"/y/f{i}.dic", i + 1, sec, study=f"st.Y{i}")
        # stack Z: no InstanceNumber at all -> NULL EUID/date, but the
        # acquisition-time min still holds
        for i, sec in enumerate([300.0, 200.0, 400.0]):
            add("Z", 3, 1.0, f"/z/f{i}.dic", None, sec, study="st.Z")
        # stack W: NULL acquisition times, the first-ordered row's too
        for i, sec in enumerate([None, 700.0, None, 650.0]):
            add("W", 4, 1.0, f"/w/f{i}.dic", i + 1, sec, study="st.W")
        add("W0", 5, 1.0, "/w0/f0.dic", 1, None, study="st.W0")
        # dual-echo series: one SeriesInstanceUID, two stacks by echo
        for echo in (4.92, 7.38):
            for i in range(3):
                add("D", 6, echo, f"/d/e{echo}_{i}.dic", i + 1,
                    1000.0 + 10 * i + echo, study=f"st.D{echo}")

        h = spark.createDataFrame(rows, _STACK_IN_SCHEMA)
        out = {
            r.SeriesInstanceUID: r
            for r in stacks.assemble_stacks(h.drop(*stacks.LINK_COLS)).collect()
        }
        x, y = out["X"], out["Y"]
        assert x.nb_dic_file == 81
        assert x.n_duplicates == 40 and x.n_missing == 4
        assert x.corrupt == "40Duplicate;missingDicomFile_4"
        assert x.first_file == "/x/f0_0.dic" and x.last_file == "/x/tail.dic"
        # first two sorted instants are the duplicated inst 1 pair
        assert x.duration_s == 0.0
        assert y.corrupt == "ok" and y.duration_s == 15.0

        fused = stacks.assemble_stacks(h)
        ref = _linked_stacks_reference(h)
        assert fused.schema.simpleString() == ref.schema.simpleString()
        got = sorted(fused.collect(), key=repr)
        assert got == sorted(ref.collect(), key=repr)
        by_key = {(r.SeriesInstanceUID, r.EchoTime): r for r in got}
        assert len(by_key) == 7
        assert by_key[("X", 1.0)].EUID == "st.X"
        assert by_key[("X", 1.0)].AcquisitionDate == "20240101"
        z = by_key[("Z", 1.0)]
        assert z.EUID is None and z.AcquisitionDate is None
        assert z.first_acq_seconds == 200.0
        assert by_key[("W", 1.0)].first_acq_seconds == 650.0
        assert by_key[("W0", 1.0)].first_acq_seconds is None
        assert by_key[("D", 4.92)].EUID == "st.D4.92"
        assert by_key[("D", 7.38)].EUID == "st.D7.38"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_full_outer_diff_null_value_semantics(spark):
    # key on both sides with NULL in the first compare column is NOT a
    # missing row; NULL-vs-value differences report mismatch
    left = spark.createDataFrame(
        [Row(k=1, v=None), Row(k=2, v=10), Row(k=3, v=7)],
        "k int, v int",
    )
    right = spark.createDataFrame(
        [Row(k=1, v=None), Row(k=2, v=None), Row(k=4, v=1)],
        "k int, v int",
    )
    st = {r.k: r.status for r in
          oj.full_outer_diff(left, right, ["k"], ["v"]).collect()}
    assert st == {1: "identical", 2: "mismatch", 3: "missing_right",
                  4: "missing_left"}


def test_except_multiplicity(spark):
    # EXCEPT drops a left value entirely when it matches, regardless of
    # left multiplicity (exceptAll+distinct would keep it)
    left = spark.createDataFrame([Row(x=1), Row(x=1), Row(x=2)])
    right = spark.createDataFrame([Row(x=1)])
    got = sorted(r.x for r in left.select("x").subtract(right).collect())
    assert got == [2]


def test_dicom_roundtrip_explicit_and_implicit():
    fields = {
        "ImageType": ["ORIGINAL", "PRIMARY", "M"],
        "AcquisitionDate": "20240301",
        "AcquisitionTimeRaw": "101530.250000",
        "Manufacturer": "SIEMENS",
        "SequenceName": "tfl3d1",
        "RepetitionTime": "2300",
        "EchoTime": "2.98",
        "StudyInstanceUID": "1.2.840.99.1",
        "SeriesInstanceUID": "1.2.840.99.1.7",
        "SeriesNumber": "7",
        "InstanceNumber": "43",
    }
    for ts in ("1.2.840.10008.1.2.1", "1.2.840.10008.1.2"):
        rec = dsrc.minimal_parser(dsrc.encode_minimal_dicom(fields, transfer_syntax=ts))
        assert rec["SeriesInstanceUID"] == "1.2.840.99.1.7"
        assert rec["InstanceNumber"] == 43 and rec["SeriesNumber"] == 7
        assert rec["EchoTime"] == 2.98
        assert rec["ImageType"] == ["ORIGINAL", "PRIMARY", "M"]
        assert rec["csa_meta"]["SequenceName"] == "tfl3d1"
    with pytest.raises(ValueError):
        dsrc.minimal_parser(b"not dicom at all")
    # truncation degrades to NULL fields, never raises past the magic
    blob = dsrc.encode_minimal_dicom(fields)
    assert dsrc.minimal_parser(blob[:150])["SeriesInstanceUID"] is None


def test_csa2_roundtrip_and_fallback():
    # CSA2 codec roundtrip + the SequenceName fallback when the
    # standard (0018,0024) tag is absent (Exam_info.py:533-538)
    csa = {"SequenceName": "epfid2d1_64", "FlipAngle": "90", "EchoTime": "30.0"}
    assert dsrc.parse_csa2(dsrc.encode_csa2(csa)) == csa
    with pytest.raises(ValueError):
        dsrc.parse_csa2(b"NOT_SV10_AT_ALL!")
    blob = dsrc.encode_minimal_dicom(
        {
            "SeriesInstanceUID": "1.2.3.4",
            "InstanceNumber": "1",
            "csa_image": csa,  # NO standard SequenceName
        }
    )
    rec = dsrc.minimal_parser(blob)
    assert rec["csa_meta"]["CsaImage.FlipAngle"] == "90"
    assert rec["csa_meta"]["SequenceName"] == "epfid2d1_64"  # fallback
    # standard tag wins when both exist
    blob2 = dsrc.encode_minimal_dicom(
        {"SeriesInstanceUID": "1.2.3.4", "SequenceName": "tfl3d1", "csa_image": csa}
    )
    assert dsrc.minimal_parser(blob2)["csa_meta"]["SequenceName"] == "tfl3d1"


def test_dicom_nested_sequence_cannot_shadow_toplevel():
    # an undefined-length SQ holding a nested SeriesInstanceUID must not
    # be mistaken for the top-level one (depth tracking)
    nested = dsrc._element(dsrc.TAG_SERIES_UID, b"UI", b"9.9.9.NESTED", True)
    item = (0xFFFE).to_bytes(2, "little") + (0xE000).to_bytes(2, "little") + \
        len(nested).to_bytes(4, "little") + nested
    seq = (0x0008).to_bytes(2, "little") + (0x1140).to_bytes(2, "little") + \
        b"SQ\x00\x00" + (0xFFFFFFFF).to_bytes(4, "little") + item + \
        (0xFFFE).to_bytes(2, "little") + (0xE0DD).to_bytes(2, "little") + \
        (0).to_bytes(4, "little")
    top = dsrc._element(dsrc.TAG_SERIES_UID, b"UI", b"1.2.3.TOP", True)
    ts_el = dsrc._element((0x0002, 0x0010), b"UI", b"1.2.840.10008.1.2.1", True)
    meta = dsrc._element((0x0002, 0x0000), b"UL", len(ts_el).to_bytes(4, "little"), True)
    blob = b"\x00" * 128 + b"DICM" + meta + ts_el + seq + top
    rec = dsrc.minimal_parser(blob)
    assert rec["SeriesInstanceUID"] == "1.2.3.TOP"


def test_parse_headers_end_to_end(spark):
    # real byte-level parse through the mapInPandas operator, including
    # one corrupt file degrading to a flagged NULL row
    import pandas as pd

    blobs = []
    for i in range(6):
        blobs.append(
            (f"/x/f{i}.dic",
             dsrc.encode_minimal_dicom({
                 "SeriesInstanceUID": f"1.2.3.{i % 2}",
                 "StudyInstanceUID": "1.2.3",
                 "SeriesNumber": str(i % 2 + 1),
                 "InstanceNumber": str(i + 1),
                 "EchoTime": "3.5",
                 "AcquisitionDate": "20240401",
                 "AcquisitionTimeRaw": "090000.000000",
                 "ImageType": ["ORIGINAL", "PRIMARY"],
             })))
    blobs.append(("/x/bad.dic", b"\x00" * 200))
    df = spark.createDataFrame(
        pd.DataFrame(blobs, columns=["path", "content"]),
        "path string, content binary",
    )
    out = {r.path: r for r in dsrc.parse_headers(df).collect()}
    assert len(out) == 7
    assert out["/x/f3.dic"].InstanceNumber == 4
    assert out["/x/f3.dic"].SeriesInstanceUID == "1.2.3.1"
    assert out["/x/bad.dic"].SeriesInstanceUID is None
    assert "corrupt" in out["/x/bad.dic"].csa_meta


def test_asof_join_matches_pandas_merge_asof(spark):
    # the union-and-carry-forward plan must equal pandas merge_asof
    # (backward, allow_exact_matches) on a constructed sample with
    # equal-timestamp ties and keys missing on either side
    import pandas as pd

    left = pd.DataFrame(
        {
            "k": [1, 1, 1, 2, 2, 3],
            "lts": [10, 20, 30, 5, 50, 7],
            "lid": [100, 101, 102, 103, 104, 105],
        }
    )
    right = pd.DataFrame(
        {
            "k": [1, 1, 2, 4],
            "rts": [10, 25, 60, 1],
            "rv": [1.5, 2.5, 3.5, 4.5],
        }
    )
    expected = pd.merge_asof(
        left.sort_values("lts"),
        right.sort_values("rts").rename(columns={"rts": "lts"}),
        on="lts",
        by="k",
    ).sort_values("lid")
    ldf = spark.createDataFrame(left, "k int, lts long, lid int")
    rdf = spark.createDataFrame(right, "k int, rts long, rv double")
    got = (
        oj.asof_join(ldf, rdf, keys=["k"], left_ts="lts", right_ts="rts",
                     value_cols=["rv"])
        .orderBy("lid")
        .collect()
    )
    exp_rv = [None if pd.isna(v) else v for v in expected["rv"]]
    assert [r.rv_asof for r in got] == exp_rv


def test_kmeans_deterministic_and_matches_numpy(spark):
    # the floor-int k-means must be partition-count independent and
    # equal to a straight numpy replay of the same spec
    import numpy as np

    from dicomdb_spark.llm.clustering import kmeans_fit

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    c2 = kmeans_fit(emb.repartition(2), k=4, iters=2)
    c13 = kmeans_fit(emb.repartition(13), k=4, iters=2)
    assert c2 == c13  # bit-identical across partitionings

    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    A = np.array([r.v for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, A = ids[order], A[order]
    C = A[ids < 4].copy()
    SCALE = 1e12
    for _ in range(2):
        d = np.stack(
            [
                np.floor((A - C[j]) * (A - C[j]) * SCALE).astype(np.int64).sum(axis=1)
                for j in range(len(C))
            ],
            axis=1,
        )
        cid = np.argmin(d, axis=1)
        C = np.stack(
            [
                np.floor(A[cid == j] * SCALE).astype(np.int64).sum(axis=0)
                / (cid == j).sum()
                / SCALE
                for j in sorted(set(cid))
            ]
        )
    # kmeans_fit returns TAGGED centroids [(cid, vec), ...] (r12: labels
    # survive empty-cluster drops); no cluster empties at sf0.001, so
    # the tags are exactly the surviving cids of the reference loop
    assert [t for t, _ in c2] == sorted(int(x) for x in set(cid))
    assert np.array_equal(np.array([v for _, v in c2]), C)


def test_simhash_near_pairs_matches_bruteforce(spark):
    # pigeonhole block buckets must find EXACTLY the brute-force
    # hamming<=k pairs (completeness is the property the blocks
    # guarantee; precision comes from the popcount verify)
    from itertools import combinations

    from dicomdb_spark.llm import dedup as ld

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
    )
    sig = {r.doc_id: r.simhash
           for r in ld.simhash_relational(docs, "doc_id", "text").collect()}
    expected = sorted(
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a, b in combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 2
    )
    got = sorted(
        (r.id1, r.id2, r.hamming)
        for r in ld.simhash_near_pairs(docs, "doc_id", "text", k=2).collect()
    )
    assert got == expected and len(expected) > 0


def test_rotate_bvecs_non_identity(spark):
    # 30° in-plane rotation — checked against the reference formula
    # np.dot(bv, rotations) with direction cosines as COLUMNS
    # (Exam_info.py:1196-1209); identity-only tests cannot distinguish
    # R from R.T.
    import numpy as np

    th = np.deg2rad(30.0)
    row_x = [float(np.cos(th)), float(np.sin(th)), 0.0]
    row_y = [float(-np.sin(th)), float(np.cos(th)), 0.0]
    bvs = [[1.0, 2.0, 3.0], [0.5, -1.0, 0.25]]
    rows = [
        Row(
            SeriesInstanceUID="S",
            volume_index=i,
            bvec=bv,
            bval=700.0,
            affine=[*row_x, *row_y, 0.0, 0.0, 0.0],
            flip_sign=[1.0, 1.0, 1.0],
        )
        for i, bv in enumerate(bvs)
    ]
    out = stacks.rotate_bvecs(spark.createDataFrame(rows)).collect()[0]
    rotations = np.eye(3)
    rotations[:, 0] = row_x
    rotations[:, 1] = row_y
    rotations[:, 2] = np.cross(row_x, row_y)
    expected = np.array(bvs) @ rotations
    for got, exp in zip(out.bvecs_rotated, expected):
        assert got == pytest.approx(list(exp))


# ------------------------------------------------------------ multimodal
def test_extract_features_byte_histogram(spark):
    import numpy as np

    docs = spark.createDataFrame([Row(doc_id=1, text="aaab")])
    feats = mm.extract_features(mm.binarize(docs), bins=16).collect()[0]
    assert feats.n_bytes == 4
    b = np.frombuffer(b"aaab", dtype=np.uint8)
    expected = np.bincount(b >> 4, minlength=16) / 4
    assert feats.features == pytest.approx(list(expected))
    assert sum(feats.features) == pytest.approx(1.0)


def test_multimodal_decode_and_frames(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="hello world"), Row(doc_id=2, text="x" * 200)]
    )
    binar = mm.binarize(docs)
    # default decoder is now the REAL stdlib container parser (round
    # 10); plain-text payloads fall back to octet-stream + NULL dims
    meta = {r.doc_id: r for r in mm.decode_image_meta(binar).collect()}
    assert meta[1].n_bytes == 11 and meta[2].n_bytes == 200
    assert meta[1].format == "application/octet-stream"
    assert meta[1].width is None and meta[1].height is None
    assert len(meta[1].checksum) == 64  # sha2-256 hex
    # the fake decoder remains injectable as a test stub
    fake = {
        r.doc_id: r
        for r in mm.decode_image_meta(binar, decoder=mm.fake_decoder).collect()
    }
    assert fake[1].format == "fake/raw" and fake[1].width == 12
    frames = mm.frame_sample(binar, every_n_bytes=64).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 4  # ceil(200/64)
    assert bytes(by_doc[2][0].frame_payload) == b"x" * 64


# ------------------------------------------------------------- streaming
def test_streaming_daily_counts(spark, tmp_path):
    src = str(tmp_path / "in")
    ev = spark.range(10).select(
        F.col("id").alias("event_id"),
        F.expr("timestamp_ntz '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*3600)").alias("ts"),
        (F.col("id") % 2).alias("user_id"),
    )
    ev.write.mode("overwrite").parquet(src)
    stream_df = stream.stream_inventory(
        spark, src, ev.schema, fmt="parquet"
    )
    agg = stream.windowed_daily_counts(stream_df.withColumn("ts", F.col("ts").cast("timestamp")))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("daily_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from daily_counts").collect()
    finally:
        q.stop()
    assert {(r.user_id, r.n_items) for r in rows} == {(0, 5), (1, 5)}


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    src = str(tmp_path / "in2")
    target: dict[int, tuple] = {1: ("a", 1.0)}  # pre-existing row

    incoming = spark.createDataFrame(
        [Row(k=1, name="a", v=1.0), Row(k=2, name="b", v=2.0), Row(k=1, name="a2", v=1.0)]
    )
    incoming.write.mode("overwrite").parquet(src)

    seen_actions = []

    def fetch(s):
        return s.createDataFrame(
            [Row(k=k, name=n, v=v) for k, (n, v) in target.items()],
            schema="k long, name string, v double",
        )

    def apply(df):
        seen_actions.extend((r.k, r.action) for r in df.collect())

    fn = stream.foreach_batch_upsert(fetch, apply, ["k"], ["name", "v"], ["v"])
    batch = spark.read.parquet(src)
    fn(batch, 0)
    acts = sorted(seen_actions)
    # k=2 is new → insert; k=1 appears twice: one noop (identical) and
    # one update (name changed)
    assert (2, "insert") in acts and (1, "update") in acts
    assert (1, "noop") not in acts  # noops filtered out


# ------------------------------------------------------------ sinks/views
def test_render_upsert_sql():
    sql = jdbc.render_upsert_sql(
        "exam", {"Eid": 7, "ExamName": "O'Neill", "PatientsWeight": None}, ["Eid"]
    )
    assert sql.startswith(
        "INSERT INTO `exam` (`Eid`, `ExamName`, `PatientsWeight`) VALUES"
    )
    assert "O\\'Neill" in sql and "NULL" in sql
    assert "ON DUPLICATE KEY UPDATE `ExamName` = VALUES(`ExamName`)" in sql
    assert "`Eid` = VALUES" not in sql  # keys never updated


def test_render_upsert_sql_nonfinite_and_idents():
    # non-finite floats have no MySQL literal → NULL; identifiers are
    # backtick-quoted (incl. embedded backticks doubled)
    sql = jdbc.render_upsert_sql(
        "odd`name",
        {"k": 1, "a": float("inf"), "b": float("nan"), "c": 1.5},
        ["k"],
    )
    assert "INSERT INTO `odd``name`" in sql
    assert "inf" not in sql and "nan" not in sql
    assert sql.count("NULL") == 2 and "1.5" in sql


def test_render_upsert_sql_all_key_row():
    """A row made only of key columns (a link table) renders a no-op
    conflict action, never an empty SET list."""
    row = {"exam_id": 1, "serie_id": 2}
    assert jdbc.render_upsert_sql("link", row, ["exam_id", "serie_id"]) == (
        "INSERT INTO `link` (`exam_id`, `serie_id`) VALUES (1, 2) "
        "ON DUPLICATE KEY UPDATE `exam_id` = `exam_id`"
    )
    assert jdbc.render_upsert_sql("link", row, ["exam_id", "serie_id"], "ansi") == (
        'INSERT INTO "link" ("exam_id", "serie_id") VALUES (1, 2) '
        'ON CONFLICT ("exam_id", "serie_id") DO NOTHING'
    )


def test_exam_series_and_seqname(spark):
    exam = spark.createDataFrame(
        [Row(Eid=1, ExamName="E1", MachineName="Verio"), Row(Eid=2, ExamName="E2", MachineName="Prisma")]
    )
    serie = spark.createDataFrame(
        [
            Row(Sid=10, ExamRef=1, SeqName2="tfl3d", SName="mprage"),
            Row(Sid=11, ExamRef=1, SeqName2="tfl3d", SName="mprage_rep"),
            Row(Sid=12, ExamRef=2, SeqName2="ep_b", SName="dwi"),
            Row(Sid=13, ExamRef=3, SeqName2="orphan", SName="x"),
        ]
    )
    es = views.exam_series(exam, serie)
    assert es.count() == 3  # inner join drops the orphan serie
    assert "ExamName" in es.columns
    cat = {r.SeqName2: r.Sid for r in views.seqname_catalog(serie).collect()}
    assert cat == {"tfl3d": 10, "ep_b": 12, "orphan": 13}


def test_streaming_session_window(spark, tmp_path):
    """W3 streaming analog with a true session_window (gap-based)."""
    src = str(tmp_path / "sess_in")
    ev = spark.range(6).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,"
            "CASE WHEN id < 3 THEN id * 60 ELSE 7200 + id * 60 END)"
        ).alias("ts"),
        F.lit(7).alias("user_id"),
    )
    ev.write.mode("overwrite").parquet(src)
    stream_df = (
        spark.readStream.schema(ev.schema).parquet(src)
    )
    agg = (
        stream_df.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select n from sessions").collect()
    finally:
        q.stop()
    # two bursts separated by a 2 h gap → exactly two sessions of 3
    assert sorted(r.n for r in rows) == [3, 3]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Streaming twin of j12_range_join: stream-stream inner join with
    watermarks + a time-range condition must produce exactly the batch
    result (pair-for-pair)."""
    from dicomdb_spark.io import load_table
    from dicomdb_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    expected = sorted(
        (r.click_id, r.signup_id)
        for r in QUERIES["j12_range_join"](spark, sf).collect()
    )
    ev = load_table(spark, sf, "events")
    s_dir, c_dir = str(tmp_path / "signups"), str(tmp_path / "clicks")
    # watermarks require TIMESTAMP (with local tz), not NTZ — cast both
    # sides identically; the join condition only compares them relatively
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"),
        F.col("event_id").alias("signup_id"),
        F.col("ts").cast("timestamp").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).cast("timestamp").alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    signups.write.mode("overwrite").parquet(s_dir)
    clicks.write.mode("overwrite").parquet(c_dir)
    s_stream = (
        spark.readStream.schema(signups.schema).parquet(s_dir)
        .withWatermark("start_ts", "1 minute")
    )
    c_stream = (
        spark.readStream.schema(clicks.schema).parquet(c_dir)
        .withWatermark("ts", "1 minute")
    )
    joined = c_stream.join(
        s_stream,
        F.expr(
            "user_id = s_user AND ts >= start_ts AND ts <= end_ts"
        ),
    ).select("click_id", "signup_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.click_id, r.signup_id)
            for r in spark.sql("select * from attrib").collect()
        )
    finally:
        q.stop()
    assert got == expected and len(got) > 0


def test_stateful_distinct_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: redelivered keys in later
    micro-batches must not re-emit."""
    from dicomdb_spark.streaming.stateful import stateful_distinct

    src = tmp_path / "dedup_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def batch(ids, name):
        df = spark.createDataFrame(
            [Row(k=int(i), payload=f"p{i}") for i in ids],
            schema="k long, payload string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(src / name))

    batch([1, 2, 3, 2], "b1")  # intra-batch dup too
    stream_df = (
        spark.readStream.schema("k long, payload string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    out = stateful_distinct(stream_df, "k", ["payload"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = sorted(r.k for r in spark.sql("select k from dedup_out").collect())
        batch([2, 3, 4], "b2")  # redeliveries + one new key
        q.processAllAvailable()
        second = sorted(r.k for r in spark.sql("select k from dedup_out").collect())
    finally:
        q.stop()
    assert first == [1, 2, 3]
    assert second == [1, 2, 3, 4]  # only key 4 newly emitted


def test_rest_payload_and_writer_shape(spark):
    from dicomdb_spark.sources import rest

    df = spark.createDataFrame([Row(Eid=1, PatientsName="X")])
    out = df.select(
        rest.render_payload(["Eid", "PatientsName"], {"token": "t0", "test": "1"}).alias(
            "payload"
        )
    ).first()
    import json

    assert json.loads(out.payload) == {
        "Eid": 1,
        "PatientsName": "X",
        "token": "t0",
        "test": "1",
    }
    # writer is a partition callable; with no reachable server it must
    # raise (task retry semantics), not swallow
    writer = rest.post_partition_writer("http://127.0.0.1:1/unreachable")
    with pytest.raises(Exception):
        writer(iter([Row(payload="{}")]))


def test_replace_map(spark):
    from dicomdb_spark.functions.scalars import replace_map

    df = spark.createDataFrame(
        [Row(m="Ox Offline Recon"), Row(m="Verio"), Row(m="other")]
    )
    out = [
        r.out
        for r in df.select(
            replace_map("m", {"Ox Offline Recon": "SIGNA PET/MR"}).alias("out")
        ).collect()
    ]
    assert out == ["SIGNA PET/MR", "Verio", "other"]


def test_approx_stats_accuracy(spark):
    from dicomdb_spark.io import load_table
    from dicomdb_spark.operators.aggregates import approx_stats

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    approx = {
        r.event_type: (r.approx_distinct, r.approx_quantiles[0])
        for r in approx_stats(ev, ["event_type"], "user_id", "value").collect()
    }
    exact = {
        r.event_type: (r.d, r.m)
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("d"),
            F.expr("percentile(value, 0.5)").alias("m"),
        )
        .collect()
    }
    for et, (ad, aq) in approx.items():
        ed, em = exact[et]
        assert abs(ad - ed) / ed < 0.1          # HLL within 10%
        assert abs(aq - em) / max(abs(em), 1) < 0.1  # GK sketch near median


def test_resize_stub(spark):
    from dicomdb_spark.llm.multimodal import binarize, resize_images

    docs = spark.createDataFrame([Row(doc_id=1, text="z" * 10000)])
    out = resize_images(binarize(docs), target_w=8, target_h=8).first()
    assert out.width == 8 and out.height == 8
    assert len(bytes(out.resized_payload)) == 64


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg: a window finalizes once the watermark
    passes it, and an event arriving later than the watermark for an
    already-finalized window is dropped — the late-data contract."""
    src = tmp_path / "late_in"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long"

    def write(name, rows):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    from pyspark.sql import Row
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: two events in window [00:00, 01:00)
    write("b1", [Row(event_id=1, ts=t0, user_id=1), Row(event_id=2, ts=t0 + dt.timedelta(minutes=30), user_id=1)])
    stream_df = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
    )
    agg = (
        stream_df.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: an event far in the future advances the watermark past
        # the first window
        write("b2", [Row(event_id=3, ts=t0 + dt.timedelta(hours=5), user_id=1)])
        q.processAllAvailable()
        after_advance = {
            (str(r.window.start), r.n)
            for r in spark.sql("select * from late_out").collect()
        }
        # batch 3: a LATE event for the already-finalized first window
        write("b3", [Row(event_id=4, ts=t0 + dt.timedelta(minutes=45), user_id=1)])
        q.processAllAvailable()
        final = {
            (str(r.window.start), r.n)
            for r in spark.sql("select * from late_out").collect()
        }
    finally:
        q.stop()
    # the first window emitted with n=2 and the late event did NOT
    # reopen or re-emit it
    assert ("2024-01-01 00:00:00", 2) in after_advance
    assert final == after_advance


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: each micro-batch enriches against a static
    (broadcast) dimension — the streaming twin of the ExamSeries view."""
    src = tmp_path / "enrich_in"
    src.mkdir()
    ev = spark.createDataFrame(
        [Row(event_id=i, user_id=i % 3) for i in range(9)],
        schema="event_id long, user_id long",
    )
    ev.coalesce(1).write.parquet(str(src / "b1"))
    dim = spark.createDataFrame(
        [Row(user_id=0, segment="alpha"), Row(user_id=1, segment="beta"), Row(user_id=2, segment="gamma")]
    )
    stream_df = spark.readStream.schema("event_id long, user_id long").parquet(str(src) + "/*")
    enriched = stream_df.join(F.broadcast(dim), "user_id")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from enriched_out").collect()
    finally:
        q.stop()
    assert len(rows) == 9
    assert {r.segment for r in rows} == {"alpha", "beta", "gamma"}


def test_results_harvest(spark, tmp_path):
    """R9 — seg8 results harvest: scan, parse, join back to series,
    corrupt files flagged status=0."""
    from dicomdb_spark.sources.results import harvest_results

    res_root = tmp_path / "results"
    good = res_root / "PROTO_A" / "subj01" / "S01_mprage" / "vbm8"
    bad = res_root / "PROTO_A" / "subj02" / "S01_mprage" / "vbm8"
    good.mkdir(parents=True)
    bad.mkdir(parents=True)
    (good / "p1_seg8.txt").write_text("0.61\t0.42\t0.25\n")
    (bad / "p2_seg8.txt").write_text("corrupted-not-floats\n")

    serie = spark.createDataFrame(
        [
            Row(Sid=1, SeqType="MPRAGE", nifti_dir="/nifti/PROTO_A/subj01/S01_mprage"),
            Row(Sid=2, SeqType="MPRAGE", nifti_dir="/nifti/PROTO_A/subj02/S01_mprage"),
            Row(Sid=3, SeqType="EPI", nifti_dir="/nifti/PROTO_A/subj03/S02_epi"),
            Row(Sid=4, SeqType="MPRAGE", nifti_dir=None),  # skip path
        ]
    )
    out = {r.Sid: r for r in harvest_results(spark, serie, str(res_root)).collect()}
    assert set(out) == {1, 2}
    assert out[1].status == 1 and out[1].vbmgrayvol == pytest.approx(0.61)
    assert out[2].status == 0 and out[2].vbmgrayvol is None
    assert out[1].dir_path.endswith("subj01/S01_mprage/vbm8")


def test_minhash_pandas_matches_relational(spark):
    """The map-only Python signature path must be bit-identical to the
    relational explode+groupBy path (hashlib md5 == engine md5)."""
    from dicomdb_spark.functions.text import shingles
    from dicomdb_spark.llm.dedup import minhash_signatures_pandas

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="  Mixed   CASE tokens  here  now "),
            Row(doc_id=3, text="too short"),  # <3 tokens → no signature
            Row(doc_id=4, text="唯一 的 中文 标记 文本"),
        ]
    )
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(shingles("text", 3))).alias("shingle"),
    )
    aggs = []
    for j in range(4):
        h = F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))
        for k in range(4):
            aggs.append(F.min(F.substring(h, k * 8 + 1, 8)).alias(f"m{j * 4 + k}"))
    rel = sorted(tuple(r) for r in sh.groupBy("doc").agg(*aggs).collect())
    pan = sorted(
        tuple(r)
        for r in minhash_signatures_pandas(docs, "doc_id", "text").collect()
    )
    assert rel == pan and len(rel) == 3


def test_remediation_scripts_sink(spark, tmp_path):
    """S9 — generated shell commands written as the query output."""
    out = str(tmp_path / "scripts")
    df = spark.createDataFrame(
        [Row(Eid=7), Row(Eid=9)]
    ).select(F.format_string("delete from exam where Eid=%d;", "Eid").alias("cmd"))
    jdbc.render_remediation_scripts(df, "cmd", out)
    import glob

    lines = []
    for f in glob.glob(out + "/part-*"):
        lines += open(f).read().splitlines()
    assert sorted(lines) == [
        "delete from exam where Eid=7;",
        "delete from exam where Eid=9;",
    ]


def test_upsert_partition_writer_executes_batches():
    """S7 writer loop: one connection per partition, batched commits,
    close on exhaustion — verified with a recording fake connection."""
    executed, commits, closed = [], [], []

    class FakeCursor:
        def execute(self, sql):
            executed.append(sql)

    class FakeConn:
        def cursor(self):
            return FakeCursor()

        def commit(self):
            commits.append(1)

        def close(self):
            closed.append(1)

    writer = jdbc.upsert_partition_writer(
        "exam", ["Eid"], connect=lambda: FakeConn(), batch_size=2
    )
    rows = [Row(Eid=i, ExamName=f"E{i}") for i in range(5)]
    writer(iter(rows))
    assert len(executed) == 5
    assert all(s.startswith("INSERT INTO `exam`") for s in executed)
    assert len(commits) == 3  # 2 batch commits + final
    assert closed == [1]


def test_jdbc_writers_pickle_by_value():
    # upsert_partition_writer closures run in Python workers that may
    # not have the package on their path: they must ship by value
    from pyspark import cloudpickle

    assert jdbc.__name__ in cloudpickle.list_registry_pickle_by_value()


def test_xlsx_reader_pickles_by_value():
    # s4_xlsx_roundtrip's pandas UDF must not need the package on the
    # workers' path either
    from pyspark import cloudpickle

    from dicomdb_spark.sources import xlsx

    assert xlsx.__name__ in cloudpickle.list_registry_pickle_by_value()


def test_duplicated_spans_boundaries(spark):
    """Two docs share one 10-token run -> one maximal span each at the
    right 0-based inclusive positions; unique text yields no spans."""
    from dicomdb_spark.llm import dedup as ld

    shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {shared} z1 z2"),
            (2, f"b1 {shared}"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in ld.duplicated_spans(docs, "doc_id", "text", n=8).collect()
    }
    # doc 1: shared run occupies positions 3..12; doc 2: 1..10
    assert out == {1: (3, 12, 10), 2: (1, 10, 10)}


def test_rerank_pandas_scorer_slot(spark):
    """The injectable cross-encoder slot: a fake batchwise model goes
    through the Arrow pandas-UDF path and drives the final ranking."""
    import pandas as pd
    from dicomdb_spark.llm import rerank as rr

    cand = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.1)],
        "query_id long, neighbor_id long, cosine_sim double",
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (10, "unrelated"), (11, "alpha beta"), (12, "alpha beta gamma")],
        "doc_id long, text string",
    )

    def fake_model(qt: pd.Series, ct: pd.Series, cos: pd.Series) -> pd.Series:
        # "model": longer candidate text wins, cosine ignored
        return ct.str.len().astype("float64")

    out = rr.rerank_topk(cand, docs, k=2, scorer=rr.pandas_scorer(fake_model))
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(12, 1), (11, 2)]  # cosine order was 10,11,12 — model reranked
    # default fusion scorer: lexical overlap breaks the cosine order
    fused = rr.rerank_topk(cand, docs, k=3)
    top = fused.filter(fused["rank"] == 1).collect()[0]
    assert top.neighbor_id == 11  # exact text match + decent cosine


def test_pack_sequences_semantics(spark):
    """Concat-and-chunk: doc belongs to the sequence its first token
    lands in; shards pack independently."""
    from dicomdb_spark.llm import corpus as lc

    docs = spark.createDataFrame(
        [
            (1, "a b c", "s1"),        # toks 3, cum_before 0 -> seq 0
            (2, "d e f g", "s1"),      # cum_before 3 -> seq 0
            (3, "h i", "s1"),          # cum_before 7 -> seq 0 (straddles)
            (4, "j k l m n o", "s1"),  # cum_before 9 -> seq 1
            (5, "p q", "s2"),          # other shard restarts at seq 0
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r.shard, r.seq_id): (r.n_docs, r.n_tokens)
        for r in lc.pack_sequences(docs, "doc_id", "text", "source", budget=8).collect()
    }
    assert out == {("s1", 0): (3, 9), ("s1", 1): (1, 6), ("s2", 0): (1, 2)}


def test_stratified_sample_deterministic(spark):
    from dicomdb_spark.llm import corpus as lc
    import pytest as _pt

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    a = lc.stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, 0.25)
    b = lc.stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, 0.25)
    ra = sorted(r.doc_id for r in a.collect())
    assert ra == sorted(r.doc_id for r in b.collect())  # no RNG anywhere
    by_lang = {r["lang"]: r["n"] for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 500 per stratum; thresholds are exact so rates land near target
    assert 200 <= by_lang["en"] <= 300 and 80 <= by_lang["zh"] <= 170
    weights = {r["lang"]: r["mix_weight"] for r in a.select("lang", "mix_weight").distinct().collect()}
    assert weights == {"en": 2.0, "zh": 4.0}
    with _pt.raises(ValueError):
        lc.hash_threshold(1.5)


def test_contamination_flags_threshold(spark):
    """Exactly min_shared distinct shared 8-grams flips the flag."""
    from dicomdb_spark.llm import corpus as lc

    run1 = "w1 w2 w3 w4 w5 w6 w7 w8"          # 1 shared 8-gram
    run2 = "x1 x2 x3 x4 x5 x6 x7 x8 x9"       # 2 shared 8-grams
    bench = spark.createDataFrame(
        [(100, run1 + " tailb"), (101, run2 + " tailc")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "pre " + run1), (2, "pre " + run2), (3, "nothing shared at all here ok")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_shared_grams, r.contaminated)
           for r in lc.contamination_flags(corpus, bench, "doc_id", "text").collect()}
    assert out == {1: (0, False), 2: (2, True), 3: (0, False)}


def test_streaming_corpus_ingest_matches_batch(spark, tmp_path):
    """Streaming corpus ingestion: map-only quality/lang filters plus
    cross-batch stateful exact-dedup must reproduce the batch pipeline
    (filter + md5 keep-first) when batches arrive in id order."""
    from dicomdb_spark.streaming.stateful import stateful_distinct

    rows1 = [
        (1, "the quick brown fox jumps", "en"),
        (2, "short", "en"),                      # fails token filter
        (3, "exactly the same text here", "en"),
        (4, "irrelevant language text row", "zh"),  # fails lang filter
    ]
    rows2 = [
        (5, "exactly the same text here", "en"),  # dup of 3 across batches
        (6, "a brand new unique document", "en"),
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, lang string"

    def drop(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def clean(df):
        from dicomdb_spark.functions.text import token_count

        return (
            df.filter((F.col("lang") == "en") & (token_count("text") >= 3))
            .withColumn("content_hash", F.md5("text"))
        )

    drop(rows1, "b1")
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    out = stateful_distinct(clean(stream_df), "content_hash", ["doc_id"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_ingest")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        drop(rows2, "b2")
        q.processAllAvailable()
        got = sorted(r.doc_id for r in spark.sql(
            "select doc_id from corpus_ingest").collect())
    finally:
        q.stop()
    # batch twin: same filters, dedup keeps min doc_id per content hash
    batch = clean(spark.createDataFrame(rows1 + rows2, schema))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    expected = sorted(
        r.doc_id
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    assert got == expected == [1, 3, 6]


def test_min_label_components_chain(spark):
    """A 4-vertex path needs label propagation across hops; a separate
    clique and an isolated pair resolve to their own min ids."""
    from dicomdb_spark.llm import dedup as ld

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # path 1-2-3-4 (diameter 3)
         (10, 11), (10, 12), (11, 12),  # triangle
         (20, 21)],
        "id1 long, id2 long",
    )
    out = {r.doc_id: r.component
           for r in ld.min_label_components(pairs, iters=3).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_stateful_sessions_match_batch(spark, tmp_path):
    """Custom stateful sessionizer (applyInPandasWithState, gap-close
    semantics) must emit exactly the batch sessionizer's CLOSED
    sessions — every session except each user's final one, which a
    live stream keeps open in state."""
    from dicomdb_spark.io import load_table
    from dicomdb_spark.operators import windows as ow
    from dicomdb_spark.streaming.stateful import stateful_sessions

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id"
    )
    # batch truth: all sessions minus each user's last (still open)
    s = ow.sessionize_by_gap(ev, "user_id", "ts", "event_id", gap_sec=1800)
    sess = s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )
    mx = sess.groupBy("user_id").agg(F.max("session_seq").alias("mx"))
    expected = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.join(mx, "user_id")
        .filter(F.col("session_seq") < F.col("mx"))
        .collect()
    )
    # stream the same events as 3 time-ordered micro-batches
    src = tmp_path / "sess_src"
    src.mkdir()
    rows = ev.orderBy("ts", "event_id").collect()
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    for i, chunk in enumerate((rows[:cut1], rows[cut1:cut2], rows[cut2:])):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}"))
    stream_df = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    out = stateful_sessions(stream_df, "user_id", "ts", gap_sec=1800)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.sql("select * from sess_out").collect()
        )
    finally:
        q.stop()
    assert len(got) > 0
    assert got == expected


def test_stateful_zscore_matches_batch(spark, tmp_path):
    """Streaming rolling z-score must equal the batch window
    EVENT-FOR-EVENT (bit-exact doubles): the state carries the
    trailing floor-scaled readings across micro-batches, so the IEEE
    chain is identical to w_anomaly_zscore's frame."""
    from dicomdb_spark.io import load_table
    from dicomdb_spark.registry import QUERIES
    from dicomdb_spark.streaming.stateful import stateful_zscore

    batch = {
        r.event_id: (repr(r.zscore), r.is_anomaly)
        for r in QUERIES["w_anomaly_zscore"](spark, "/root/testdata/sf0.001").collect()
    }
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "ts", "event_id", "value"
    )
    src = tmp_path / "z_src"
    src.mkdir()
    rows = ev.orderBy("ts", "event_id").collect()
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    for i, chunk in enumerate((rows[:cut1], rows[cut1:cut2], rows[cut2:])):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}"))
    stream_df = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    out = stateful_zscore(stream_df, "event_type", "ts", "event_id", "value")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("z_out")
        .option("checkpointLocation", str(tmp_path / "z_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.event_id: (repr(r.zscore), r.is_anomaly)
            for r in spark.sql("select * from z_out").collect()
        }
    finally:
        q.stop()
    assert len(got) == len(batch) > 0
    mismatches = {k: (got[k], batch[k]) for k in batch if got[k] != batch[k]}
    assert not mismatches, list(mismatches.items())[:5]


def test_stateful_distinct_tws_matches_classic(spark, tmp_path):
    """transformWithState (Spark 4 typed-state API) twin of
    stateful_distinct: same exactly-once-per-key emission.  The API's
    Python driver worker needs google.protobuf, absent from this env —
    skip (the operator itself is env-blocked, like pydicom/PIL)."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: F401
    from dicomdb_spark.streaming.tws import (
        ROCKSDB_PROVIDER,
        stateful_distinct_tws,
    )

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        src = tmp_path / "tws_src"
        src.mkdir()
        df = spark.createDataFrame(
            [Row(k=1, p="a"), Row(k=2, p="b"), Row(k=1, p="c")],
            "k long, p string",
        )
        df.coalesce(1).write.parquet(str(src / "b1"))
        stream_df = (
            spark.readStream.schema("k long, p string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        out = stateful_distinct_tws(stream_df, "k", ["p"])
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("tws_out")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            df2 = spark.createDataFrame(
                [Row(k=2, p="x"), Row(k=3, p="y")], "k long, p string"
            )
            df2.coalesce(1).write.parquet(str(src / "b2"))
            q.processAllAvailable()
            rows = sorted(
                (r.k, r.p) for r in spark.sql("select * from tws_out").collect()
            )
        finally:
            q.stop()
        assert rows == [(1, "a"), (2, "b"), (3, "y")]
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_cut_lineage_modes(spark, tmp_path, monkeypatch):
    """cut_lineage truncates the plan in BOTH storage modes: default
    localCheckpoint (executor-local, non-reliable) and the
    SPARK_GRAFT_CHECKPOINT_DIR-gated reliable checkpoint() for cluster
    deploys (r13 VERDICT #9: executor loss kills localCheckpoint
    blocks; the switch must exist, default unchanged)."""
    from dicomdb_spark.operators.lineage import cut_lineage

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    chained = df
    for _ in range(3):
        chained = chained.selectExpr("id", "v + 1 AS v")

    # default mode: localCheckpoint — plan truncated to a scan
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    cut = cut_lineage(chained)
    assert "Scan ExistingRDD" in cut._jdf.queryExecution().executedPlan().toString()
    assert [r.v for r in cut.orderBy("id").limit(3).collect()] == [3, 5, 7]

    # reliable mode: checkpoint() into the env-pointed directory; the
    # SparkContext is shared, so its checkpoint dir (set on first use)
    # is put back before tmp_path disappears
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    ck = tmp_path / "reliable_ck"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ck))
    try:
        cut2 = cut_lineage(chained)
        assert [r.v for r in cut2.orderBy("id").limit(3).collect()] == [3, 5, 7]
        assert sc.getCheckpointDir() is not None
        import os

        assert any(os.scandir(ck)), "reliable checkpoint dir not written"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(before))
    assert sc.getCheckpointDir() == before


def test_session_cpu_fallback():
    """Without SPARK_GRAFT_CPUS the session sizes itself to the CPUs the
    process may use (nproc), not a fixed 32."""
    import subprocess
    import sys

    probe = ("from dicomdb_spark import session as s; "
             "print(s._cpus(), s.DEFAULT_SHUFFLE_PARTITIONS)")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}

    def run():
        return subprocess.run(
            [sys.executable, "-c", probe], env=env, check=True, text=True,
            capture_output=True, cwd=Path(__file__).resolve().parents[1],
        ).stdout.split()

    n = str(len(os.sched_getaffinity(0)))
    assert run() == [n, n]
    env["SPARK_GRAFT_CPUS"] = "3"
    assert run() == ["3", "3"]


# ------------------------------------------------ python worker daemon
def _write_zip(path, members):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_zip_cache_rereads_only_changed_archives(tmp_path, monkeypatch):
    """The worker daemon's ``invalidate_caches`` keeps an unchanged
    archive's directory, re-reads a rewritten one (its new member
    imports), and on a deleted one ends as the stdlib does."""
    import importlib
    import zipimport

    from dicomdb_spark import worker_daemon as wd

    reads, orig = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or orig(a))
    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, {"wd_probe_a.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", wd.invalidate_if_changed)
    monkeypatch.syspath_prepend(zp)
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        imp = sys.path_importer_cache[zp]
        assert isinstance(imp, zipimport.zipimporter)
        imp.invalidate_caches()  # first call in this process: read, stamp
        reads.clear()
        imp.invalidate_caches()
        assert reads == []  # unchanged archive: cached directory kept

        _write_zip(zp, {"wd_probe_a.py": "X = 1\n", "wd_probe_b.py": "Y = 2\n"})
        imp.invalidate_caches()
        assert reads == [zp]
        assert importlib.import_module("wd_probe_b").Y == 2

        os.remove(zp)
        imp.invalidate_caches()
        assert imp._files == {}
        assert zp not in zipimport._zip_directory_cache
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zp, None)
        zipimport._zip_directory_cache.pop(zp, None)
        wd._stamps.pop(zp, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="stdlib zipimport reloads lazily")
def test_python_workers_keep_zip_directories(spark):
    """Workers of the local session run the patched ``invalidate_caches``,
    and a task's ``importlib.invalidate_caches()`` re-reads no archive."""
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        from dicomdb_spark import worker_daemon

        patched = zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_if_changed
        reads, orig = [], zipimport._read_directory
        importlib.invalidate_caches()
        zipimport._read_directory = lambda a: reads.append(a) or orig(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pd.DataFrame({"patched": [patched], "reads": [len(reads)]})

    rows = spark.range(4).repartition(4).mapInPandas(probe, "patched boolean, reads long").collect()
    assert rows and all(r.patched and r.reads == 0 for r in rows)


def test_local_session_from_foreign_cwd(tmp_path):
    """A local session started outside the repo still finds the worker
    daemon: a mapInPandas and a foreachPartition both run."""
    import subprocess

    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from dicomdb_spark.session import get_spark\n"
        "s = get_spark('foreign_cwd', 'local[2]', 2)\n"
        "df = s.range(6).repartition(2)\n"
        "n = df.mapInPandas(lambda it: (b.assign(id=b.id * 2) for b in it), 'id long')"
        ".agg({'id': 'sum'}).first()[0]\n"
        "df.foreachPartition(lambda rows: [r.id for r in rows])\n"
        "print('RESULT', s.sparkContext.getConf().get('spark.python.daemon.module'), n)\n"
        "s.stop()\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c", script, repo], cwd=tmp_path, check=True, text=True,
        capture_output=True, timeout=300,
    ).stdout
    assert "RESULT dicomdb_spark.worker_daemon 30" in out


def test_sql_and_rdd_runners_share_one_worker_daemon(tmp_path):
    """A pandas UDF (SQL Arrow runner) and an RDD ``mapPartitions`` (RDD
    runner, as under ``foreachPartition`` writers) get workers forked by
    the same daemon, and the JVM runs exactly one Python daemon."""
    import json
    import subprocess

    script = (
        "import json, os, sys; sys.path.insert(0, sys.argv[1])\n"
        "from dicomdb_spark.session import get_spark\n"
        "s = get_spark('one_pool', 'local[2]', 2)\n"
        "df = s.range(4).repartition(2)\n"
        "sql = {r.p for r in df.mapInPandas(\n"
        "    lambda it: (b.assign(p=os.getppid())[['p']] for b in it), 'p long').collect()}\n"
        "rdd = set(df.rdd.mapPartitions(lambda rows: [os.getppid()]).collect())\n"
        "jvm = s.sparkContext._gateway.proc.pid\n"
        "daemons = []\n"
        "for d in filter(str.isdigit, os.listdir('/proc')):\n"
        "    try:\n"
        "        with open(f'/proc/{d}/stat') as fh:\n"
        "            ppid = int(fh.read().rsplit(')', 1)[1].split()[1])\n"
        "        with open(f'/proc/{d}/cmdline', 'rb') as fh:\n"
        "            cmd = fh.read()\n"
        "    except (OSError, IndexError):\n"
        "        continue\n"
        "    if ppid == jvm and b'daemon' in cmd:\n"
        "        daemons.append(int(d))\n"
        "print('RESULT', json.dumps({'sql': sorted(sql), 'rdd': sorted(rdd), 'daemons': daemons}))\n"
        "s.stop()\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c", script, repo], cwd=tmp_path, check=True, text=True,
        capture_output=True, timeout=300,
    ).stdout
    res = json.loads(out.split("RESULT ", 1)[1])
    assert len(res["daemons"]) == 1, res
    assert res["sql"] == res["rdd"] == res["daemons"], res


def test_foreach_partition_writer_error_reaches_driver(spark):
    """With the RDD runner's simplified tracebacks, an exception raised
    in a ``foreachPartition`` writer still names itself in the driver's
    error."""
    def connect():
        raise ValueError("db down")

    writer = jdbc.upsert_partition_writer("exam", ["Eid"], connect)
    with pytest.raises(Exception) as err:
        spark.range(2).foreachPartition(writer)
    assert "ValueError: db down" in str(err.value)


def test_session_conf_daemon_only_on_local_masters():
    """local/local[N] get the worker daemon and the package root last on
    the workers' PYTHONPATH; local-cluster and real masters name the
    stock daemon and keep the caller's PYTHONPATH."""
    from dicomdb_spark import session

    for master in ("local", "local[2]", "local[*]"):
        conf = session.session_conf(master, 2, {"spark.executorEnv.PYTHONPATH": "/a"})
        assert conf["spark.python.daemon.module"] == "dicomdb_spark.worker_daemon"
        assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(["/a", session._PACKAGE_ROOT])
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn", "k8s://host"):
        conf = session.session_conf(master, 2, {"spark.executorEnv.PYTHONPATH": "/a"})
        assert conf["spark.python.daemon.module"] == "pyspark.daemon"
        assert conf["spark.executorEnv.PYTHONPATH"] == "/a"
        assert "spark.executorEnv.PYTHONPATH" not in session.session_conf(master, 2)


def test_session_conf_shares_one_worker_pool_on_every_master():
    """Every master gives all Python workers the environment the SQL
    runners add, so the RDD runner reuses their daemon and pool."""
    from dicomdb_spark import session

    for master in ("local", "local[4]", "local-cluster[2,1,1024]",
                   "spark://host:7077", "yarn", "k8s://host"):
        conf = session.session_conf(master, 2)
        assert conf["spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK"] == "1"


def test_session_conf_sizes_the_codegen_cache_on_every_master():
    """The codegen cache key is set whatever the master: it is a static
    conf that the first session in a JVM fixes for the JVM's life."""
    from dicomdb_spark import session

    for master in ("local[4]", "local-cluster[2,1,1024]", "spark://host:7077"):
        conf = session.session_conf(master, 2)
        assert conf["spark.sql.codegen.cache.maxEntries"] == str(session.CODEGEN_CACHE_ENTRIES)
    assert session.CODEGEN_CACHE_ENTRIES > 190  # one neardup session's classes


def test_reliable_checkpoints_are_cleaned(tmp_path):
    """With SPARK_GRAFT_CHECKPOINT_DIR set, the session deletes reliable
    checkpoint files of collected RDDs; unset, the conf says Spark's
    default.  A session rebuilt in the same process after stop() with
    the variable unset must not inherit the first session's value (a
    SparkConf outlives stop() as JVM system properties)."""
    import subprocess

    script = (
        "import os, sys; sys.path.insert(0, sys.argv[1])\n"
        "from dicomdb_spark.session import get_spark\n"
        "for _ in range(2):\n"
        "    s = get_spark('ck_clean', 'local[1]', 1)\n"
        "    print('RESULT', s.sparkContext.getConf()"
        ".get('spark.cleaner.referenceTracking.cleanCheckpoints'))\n"
        "    s.stop()\n"
        "    os.environ.pop('SPARK_GRAFT_CHECKPOINT_DIR', None)\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CHECKPOINT_DIR"}

    def clean_conf():
        out = subprocess.run(
            [sys.executable, "-c", script, repo], cwd=tmp_path, env=env, check=True,
            text=True, capture_output=True, timeout=300,
        ).stdout
        return [line.split("RESULT ")[-1].strip() for line in out.splitlines()
                if line.startswith("RESULT ")]

    assert clean_conf() == ["false", "false"]
    env["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ck")
    assert clean_conf() == ["true", "false"]


def test_fixed_sum_matches_duckdb_fragments():
    """The one fixed-point kernel (similarity.fixed_sum / fixed_norm)
    equals the DuckDB oracle fragments (_SQL_DOT, _sql_norm, _sql_dist2)
    bit for bit on hostile vectors: signed zeros, subnormals (a negative
    subnormal product floors to -1 only in the (a·b)·1e12 order),
    mixed signs, dims 1 and 64, and magnitudes at the int64 edge.  The
    fragments' list-lambda sum also equals the correlated
    ``(SELECT SUM(...) FROM unnest(range(...)))`` spelling it replaced,
    including a NULL vector, a NULL element and a ``b`` shorter than
    ``a``, where NULL terms drop out of both sums."""
    import duckdb
    import numpy as np

    from dicomdb_spark.llm.similarity import _SCALE, fixed_norm, fixed_sum
    from dicomdb_spark.registry._core import _SQL_DOT, _sql_dist2, _sql_norm

    def correlated(term):
        return (f"(SELECT SUM(CAST(floor({term}) AS BIGINT)) "
                "FROM unnest(range(1, len(a.v) + 1)) i(i))")

    d = "(a.v[i.i] - b.v[i.i])"
    old = (f"CAST({correlated('a.v[i.i] * b.v[i.i] * 1e12')} / 1e12 AS DOUBLE), "
           f"sqrt(CAST({correlated('a.v[i.i] * a.v[i.i] * 1e12')} / 1e12 AS DOUBLE))")
    new = f"CAST({_SQL_DOT} AS DOUBLE), {_sql_norm('a')}"
    old_d2, new_d2 = correlated(f"{d} * {d} * 1e12"), _sql_dist2("a", "b")
    vecs = ("FROM (SELECT CAST(? AS DOUBLE[]) AS v) a, "
            "(SELECT CAST(? AS DOUBLE[]) AS v) b")

    tiny = 5e-324
    rng = np.random.default_rng(7)
    # |a·b|·1e12·dims < 2^63: 3036² · 1e12 (dims 1), 379² · 1e12 · 64
    big1, big64 = 3036.0, 379.0
    pairs = [
        ([0.0], [-0.0]),
        ([-0.0], [-0.0]),
        ([-tiny], [0.5]),
        ([-tiny], [1.0]),
        ([tiny], [-1.0]),
        ([-2.2250738585072014e-308], [3.0]),
        ([big1], [big1]),
        ([-big1], [big1]),
        ([1e-13], [-1.0]),
        ([0.1], [0.2]),
        ([big64] * 64, [big64] * 64),
        ([big64, -big64] * 32, [big64] * 64),
        ([-tiny, tiny] * 32, [0.5, -0.5] * 32),
        ([0.0, -0.0] * 32, [-1.0] * 64),
    ] + [
        (list(rng.normal(scale=s, size=d)), list(rng.normal(scale=s, size=d)))
        for d in (1, 64)
        for s in (1e-7, 1.0, 50.0)
    ]
    nulls = [
        (None, [1.0, 2.0]),
        ([1.0, 2.0], None),
        ([1.0, None, 3.0], [0.5, 0.25, 0.125]),
        ([None], [1.0]),
        ([0.5, 1.5, -2.5], [2.0]),
        ([0.1], [0.2, 0.3, 0.4]),
    ]
    con = duckdb.connect()

    def same(x, y):
        return x is None and y is None or (
            x is not None and y is not None and float(x).hex() == float(y).hex())

    for a, b in pairs + nulls:
        got = con.execute(f"SELECT {new}, {old} {vecs}", [a, b]).fetchone()
        assert same(got[0], got[2]) and same(got[1], got[3]), (a, b, got)
    for a, b in pairs:
        A, B = np.asarray([a]), np.asarray([b])
        dot_sql, na_sql = con.execute(f"SELECT {new} {vecs}", [a, b]).fetchone()
        dot_np = float(fixed_sum(A, B)[0] / _SCALE)
        na_np = float(fixed_norm(A)[0])
        assert dot_np.hex() == dot_sql.hex(), (a, b, dot_np, dot_sql)
        assert na_np.hex() == na_sql.hex(), (a, na_np, na_sql)
    # squared distance: the pairs whose Σ (a−b)²·1e12 fits in int64
    fit = [(a, b) for a, b in pairs
           if np.sum(np.subtract(a, b) ** 2) * _SCALE < 2.0**62]
    for a, b in fit + nulls:
        d2, d2_old = con.execute(f"SELECT {new_d2}, {old_d2} {vecs}", [a, b]).fetchone()
        assert same(d2, d2_old), (a, b, d2, d2_old)
        if (a, b) in fit:
            D = np.subtract([a], [b])
            assert int(fixed_sum(D, D)[0]) == d2, (a, b, d2)
    # the order is load-bearing: x·(y·1e12) floors this pair to -1
    assert fixed_sum(np.asarray([-tiny]), np.asarray([0.5])) == 0


def test_bucket_pair_dots_topk_prune_matches_window(spark):
    """bucket_pair_dots(per_query_limit=k) must keep EXACTLY the rows
    the consumer window keeps (cosine DESC with Spark double
    semantics: NaN greatest, NULL — zero-norm denominator — last,
    ties by neighbor_id ASC).  Hostile bucket: a zero-norm vector
    (NULL cosine), a NaN vector (NaN cosine), duplicate vectors
    (cosine ties broken by id)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dicomdb_spark.llm.similarity import bucket_pair_dots

    rows = [
        (0, [1.0, 0.0], "b", 1.0),
        (1, [1.0, 0.0], "b", 1.0),  # duplicate of 0: tie on cosine
        (2, [0.0, 1.0], "b", 1.0),
        (3, [0.0, 0.0], "b", 0.0),  # zero norm -> NULL cosine
        (4, [float("nan"), 1.0], "b", math.sqrt(1.0)),  # NaN dot
        (5, [0.5, 0.5], "c", math.sqrt(0.5)),  # lone bucket: no pairs
    ]
    withb = spark.createDataFrame(
        rows, "vec_id long, v array<double>, bucket string, nrm double"
    )
    cos = F.col("dot") / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(
        cos.desc(), F.col("neighbor_id")
    )
    k = 2
    full = (
        bucket_pair_dots(withb)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "dot", "qn", "cn")
    )
    pruned = bucket_pair_dots(withb, per_query_limit=k).select(
        "query_id", "neighbor_id", "dot", "qn", "cn"
    )

    def canon(df):
        return sorted(
            (
                r.query_id,
                r.neighbor_id,
                None if r.dot is None or math.isnan(r.dot) else round(r.dot, 9),
                round(r.qn, 9),
                round(r.cn, 9),
            )
            for r in df.collect()
        )

    assert canon(pruned) == canon(full)
    # every query in the bucket keeps exactly k candidates (4 others)
    per_q = {}
    for r in pruned.collect():
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert per_q == {0: k, 1: k, 2: k, 3: k, 4: k}
