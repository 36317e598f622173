"""Grouped-map operators (SURVEY.md §2 U3/U4) — the pandas-UDF surface.

These are the only operators whose semantics genuinely exceed SQL:
per-stack assembly with congruence validation and the per-series
numeric bvec kernel.  Both run as ``applyInPandas`` — one Arrow batch
per group, numpy inside, typed StructType out.  Group keys are the T1
stack tuple, so the shuffle partitions by stack and each group fits in
memory by construction (a stack is one series' files).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# T1 stack grouping keys (Exam_info.py:881-922; EchoTime appended for
# fieldmaps per the comment at :884)
STACK_KEYS = ("SeriesInstanceUID", "SeriesNumber", "EchoTime")

STACK_SCHEMA = T.StructType(
    [
        T.StructField("SeriesInstanceUID", T.StringType()),
        T.StructField("SeriesNumber", T.IntegerType()),
        T.StructField("EchoTime", T.DoubleType()),
        T.StructField("nb_dic_file", T.IntegerType(), False),
        T.StructField("first_file", T.StringType()),
        T.StructField("last_file", T.StringType()),
        T.StructField("n_duplicates", T.IntegerType(), False),
        T.StructField("n_missing", T.IntegerType(), False),
        T.StructField("corrupt", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def _assemble_frame(pdf: pd.DataFrame, gid: np.ndarray) -> pd.DataFrame:
    """Vectorized U3 kernel over a (key, InstanceNumber nulls-last,
    path)-sorted frame whose rows carry ascending group ids ``gid``
    (one id per stack, rows of a stack contiguous).

    Reproduces ``%dDuplicate`` (ImageCollisionError count,
    Exam_info.py:802), ``missingDicomFile_%d`` (:1352),
    ``nullInstanceNumber_%d`` (malformed headers degrade to flags),
    and the midnight-rollover duration (:856-857) — the same numbers
    the per-group pandas fold produced, computed with reduceat over
    group segments instead of one Python call per stack.
    """
    # group segment bounds (rows pre-sorted, gid ascending)
    idx_first = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    n_groups = len(idx_first)
    n_rows = len(gid)
    idx_last = np.r_[idx_first[1:] - 1, n_rows - 1]
    n_total = np.diff(np.r_[idx_first, n_rows])

    path = pdf["path"].to_numpy()
    inst_s = pdf["InstanceNumber"]
    null_inst = inst_s.isna().to_numpy()
    inst = inst_s.to_numpy(dtype="float64", na_value=np.nan)
    secs = pdf["acq_seconds"].to_numpy(dtype="float64", na_value=np.nan)

    n_null = np.add.reduceat(null_inst.astype(np.int64), idx_first)
    n_nonnull = n_total - n_null

    # distinct InstanceNumber count per group: rows are sorted with
    # non-null inst ascending FIRST within each group, so equal values
    # are adjacent and a value is "new" when it differs from its
    # predecessor (or starts the group / follows no non-null row)
    nn = ~null_inst
    same_group = np.r_[False, gid[1:] == gid[:-1]]
    prev_nn = np.r_[False, nn[:-1]]
    prev_inst = np.r_[np.nan, inst[:-1]]
    new_distinct = nn & (~same_group | ~prev_nn | (inst != prev_inst))
    n_uniq = np.add.reduceat(new_distinct.astype(np.int64), idx_first)

    # min/max of the non-null inst block: non-nulls precede nulls, so
    # min sits at idx_first and max at idx_first + n_nonnull - 1
    has_nn = n_nonnull > 0
    idx_max_nn = idx_first + np.maximum(n_nonnull - 1, 0)
    expected = np.where(
        has_nn, inst[idx_max_nn] - inst[idx_first] + 1.0, 0.0
    ).astype(np.int64)
    n_dup = n_nonnull - n_uniq
    n_missing = np.maximum(expected - n_uniq, 0)

    # duration: first two NON-NULL-inst rows' acq_seconds (rows
    # idx_first, idx_first+1 — the non-null block leads the group)
    has_two = n_nonnull >= 2
    s1 = secs[idx_first]
    s2 = secs[np.minimum(idx_first + 1, n_rows - 1)]
    dur = np.where(has_two, s2 - s1, np.nan)
    dur = np.where(dur < 0, dur + 24 * 3600, dur)
    dur[np.isnan(s1) | np.isnan(s2)] = np.nan

    corrupt = []
    for d, m, z in zip(n_dup.tolist(), n_missing.tolist(), n_null.tolist()):
        flags = []
        if d:
            flags.append(f"{d}Duplicate")
        if m:
            flags.append(f"missingDicomFile_{m}")
        if z:
            flags.append(f"nullInstanceNumber_{z}")
        corrupt.append(";".join(flags) if flags else "ok")

    cols = {
        "SeriesInstanceUID": pdf["SeriesInstanceUID"].to_numpy()[idx_first],
        "SeriesNumber": pdf["SeriesNumber"].to_numpy()[idx_first],
        "EchoTime": pdf["EchoTime"].to_numpy()[idx_first],
        "nb_dic_file": n_total,
        "first_file": path[idx_first],
        "last_file": path[idx_last],
        "n_duplicates": n_dup,
        "n_missing": n_missing,
        "corrupt": corrupt,
        "duration_s": dur,
    }
    if LINK_COLS.keys() <= set(pdf.columns):
        # exam linkage, min_by(·, InstanceNumber) semantics: the first
        # row in (InstanceNumber nulls last, path) order, NULL when no
        # row has an InstanceNumber; the acquisition time is a
        # NaN-ignoring min over every row of the stack
        for src, dst in LINK_COLS.items():
            vals = pdf[src].to_numpy(dtype=object)[idx_first]
            vals[~has_nn] = None
            cols[dst] = vals
        cols["first_acq_seconds"] = np.fmin.reduceat(secs, idx_first)
    out = pd.DataFrame(cols)
    assert len(out) == n_groups
    return out


_ASSEMBLE_COLS = list(STACK_KEYS) + ["path", "InstanceNumber", "acq_seconds"]

# optional input columns carrying each file's exam key -> the output
# columns of the stack's exam linkage (with first_acq_seconds)
LINK_COLS = {"StudyInstanceUID": "EUID", "AcquisitionDate": "AcquisitionDate"}


def _assemble_partition(batches):
    """mapInPandas driver for the U3 kernel: detects stack boundaries
    in the sorted partition stream and carries the (possibly
    incomplete) tail group across Arrow batch boundaries."""
    carry = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        change = np.zeros(len(pdf), dtype=bool)
        change[0] = True
        for k in STACK_KEYS:
            col = pdf[k]
            prev = col.shift()
            eq = (col == prev) | (col.isna() & prev.isna())
            change |= ~eq.to_numpy(dtype=bool)
        gid = np.cumsum(change)
        tail = gid == gid[-1]
        carry = pdf[tail].reset_index(drop=True)
        body = pdf[~tail]
        if len(body):
            yield _assemble_frame(body.reset_index(drop=True), gid[~tail])
    if carry is not None and len(carry):
        yield _assemble_frame(carry, np.ones(len(carry), dtype=np.int64))


def assemble_stacks(headers: DataFrame) -> DataFrame:
    """U3 — group per-file header rows into validated stacks.

    Input needs columns: STACK_KEYS + path, InstanceNumber,
    acq_seconds (seconds-of-day, from F4 parsing).  One output row per
    stack, typed ``STACK_SCHEMA``.  When the input also carries
    ``LINK_COLS`` (StudyInstanceUID, AcquisitionDate), each row gains
    the stack's exam linkage after the STACK_SCHEMA columns: ``EUID``
    and ``AcquisitionDate`` as ``min_by(·, InstanceNumber)`` (ties
    broken by path), and ``first_acq_seconds`` as the min
    acq_seconds over the whole stack.

    Shape: hash-repartition on the stack keys + an in-partition sort
    (the identical exchange ``groupBy().applyInPandas`` produced),
    then ONE ``mapInPandas`` pass whose kernel computes every stack of
    a partition with numpy segment reductions.  The per-group pandas
    fold this replaces crossed the Arrow boundary once per stack —
    14.7k one-row batches at sf0.1 — which was pure per-group
    overhead, not compute (guide §4.2).  The in-group order is the
    old fold's ``sort_values([InstanceNumber, path])`` exactly: pandas
    places NaN keys last and orders them by the next key, which is
    Spark's ``asc_nulls_last`` + path.
    """
    cols, schema = _ASSEMBLE_COLS, STACK_SCHEMA
    if LINK_COLS.keys() <= set(headers.columns):
        cols = cols + list(LINK_COLS)
        schema = T.StructType(
            STACK_SCHEMA.fields
            + [
                T.StructField(dst, headers.schema[src].dataType)
                for src, dst in LINK_COLS.items()
            ]
            + [T.StructField("first_acq_seconds", T.DoubleType())]
        )
    h = headers.select(*cols).repartition(*STACK_KEYS)
    h = h.sortWithinPartitions(
        *STACK_KEYS, F.col("InstanceNumber").asc_nulls_last(), "path"
    )
    return h.mapInPandas(_assemble_partition, schema=schema)


BVEC_SCHEMA = T.StructType(
    [
        T.StructField("SeriesInstanceUID", T.StringType()),
        T.StructField("bvecs_rotated", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("bvals", T.ArrayType(T.DoubleType())),
    ]
)


def _rotate_bvecs_one(pdf: pd.DataFrame) -> pd.DataFrame:
    """U4 — the bvec rotation kernel (Exam_info.py:1148-1220).

    Per 4-D diffusion series: invert the affine's rotation part, apply
    to each gradient vector, manufacturer-specific sign flips.  The
    numerics are the reference's algorithm re-expressed in batch numpy
    (inverse + diag + cross product, :1174-1209).
    """
    pdf = pdf.sort_values("volume_index", kind="mergesort")
    affine = np.array(pdf["affine"].iloc[0], dtype="float64")
    rot = affine[:6].reshape(2, 3)
    row_x, row_y = rot[0], rot[1]
    row_z = np.cross(row_x, row_y)
    R = np.stack([row_x, row_y, row_z])
    Rinv = np.linalg.inv(R)
    bvecs = np.array(list(pdf["bvec"]), dtype="float64")
    # reference builds `rotations` with the direction cosines as COLUMNS
    # and computes np.dot(bv, rotations) (Exam_info.py:1196-1209); our R
    # stacks cosines as ROWS, so rotations == R.T == Rinv (orthonormal)
    # and the matching product is bvecs @ Rinv.
    rotated = bvecs @ Rinv
    flip = np.array(pdf["flip_sign"].iloc[0], dtype="float64")
    rotated = rotated * flip
    return pd.DataFrame(
        [
            {
                "SeriesInstanceUID": pdf["SeriesInstanceUID"].iloc[0],
                "bvecs_rotated": [list(map(float, v)) for v in rotated],
                "bvals": [float(b) for b in pdf["bval"]],
            }
        ]
    )


def rotate_bvecs(series_volumes: DataFrame) -> DataFrame:
    """U4 — needs columns: SeriesInstanceUID, volume_index, bvec
    (array<double>(3)), bval, affine (array<double>(9)), flip_sign
    (array<double>(3))."""
    return series_volumes.groupBy("SeriesInstanceUID").applyInPandas(
        _rotate_bvecs_one, schema=BVEC_SCHEMA
    )


# UDF closures in this module must ship by value (see package __init__)
import sys as _sys  # noqa: E402

from dicomdb_spark import register_for_udf_pickling as _reg  # noqa: E402

_reg(_sys.modules[__name__])
