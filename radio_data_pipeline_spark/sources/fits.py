"""SDFITS ingest/egress without astropy: a minimal pure-NumPy FITS
binary-table codec plus the Spark binaryFile -> mapInArrow source.

Reference parity (SURVEY.md §2.1): S1 FITS scan (validate.py:18-23 —
fits.open into header + Table), S2 structural verify
(validate.py:20 — hdul.verify('exception'), e.g. a missing END card),
S3 FITS sink (utils.py:216-237 — PrimaryHDU + BinTableHDU writeto),
and O22 corruption injection (file_corruption.py:5-34 — drop the END
card so S2 must catch it).

Implements the FITS 4.0 subset SDFITS actually uses: 2880-byte
header/data blocks, 80-char cards, one PrimaryHDU (header only,
NAXIS=0) and one BINTABLE extension with TFORM codes L/B/I/J/K/E/D/A
and fixed repeat counts (vector 'nD' DATA column, fixed-width 'nA'
strings). Big-endian row-major data as the standard requires.

Scale design: one row decode (decode_sdfits) serves both Spark
readers, executor-side and one task per file — read_sdfits inside
mapInArrow over `spark.read.format("binaryFile")`, read_sdfits_stream
in a Python stream source that plans one partition per new file — so
there is no driver bottleneck and a 100 TB corpus of observations
parallelizes by file. Both give a file the same rows, path, obs_id and
corruption verdict. The decode hands Spark an Arrow record batch whose
DATA list column is built from the table's contiguous 2-D block, so no
per-element Python object is made between the file and the JVM.
decode_sdfits emits rows only, no header: read_sdfits_headers carries
each file's header as one JSON string (a few KB), not as per-row
columns, and read_sdfits_header reads one file's header on the driver
from its leading blocks, with no Spark job. Every reader reads the
files a path names by one rule (_scan_files).
"""

from __future__ import annotations

import functools
import json
import math
import re
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

BLOCK = 2880
CARD = 80

# Canonical Spark column name <-> FITS TTYPE (only names that differ)
_FITS_NAME = {"DATE_OBS": "DATE-OBS"}
_CANON_NAME = {v: k for k, v in _FITS_NAME.items()}


class FitsFormatError(ValueError):
    """Structural FITS violation — the S2 verify('exception') analogue."""


# --------------------------------------------------------------------------
# Header cards
# --------------------------------------------------------------------------

def _format_card(key: str, value, comment: str = "") -> bytes:
    k = key.upper().ljust(8)[:8]
    if value is None:  # commentary-style bare keyword
        return (k + " " * 72).encode("ascii")
    if isinstance(value, bool):
        v = ("T" if value else "F").rjust(20)
    elif isinstance(value, int):
        v = str(value).rjust(20)
    elif isinstance(value, float):
        v = repr(value).rjust(20)
    else:
        s = str(value).replace("'", "''")
        v = "'" + s.ljust(8) + "'"
    card = f"{k}= {v}"
    if comment:
        card += f" / {comment}"
    if len(card) > CARD:
        raise FitsFormatError(f"card too long: {key}")
    return card.ljust(CARD).encode("ascii")


def _history_card(text: str) -> bytes:
    return ("HISTORY " + text[: CARD - 8]).ljust(CARD).encode("ascii")


_NUM_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([ED][+-]?\d+)?$", re.I)


def _parse_value(raw: str):
    raw = raw.strip()
    if raw.startswith("'"):
        # quoted string; '' escapes a quote
        end = 1
        while True:
            try:
                end = raw.index("'", end)
            except ValueError:
                raise FitsFormatError(
                    f"unterminated quoted header value: {raw!r}") from None
            if raw[end + 1: end + 2] == "'":
                end += 2
                continue
            break
        return raw[1:end].replace("''", "'").rstrip()
    # strip trailing comment
    if "/" in raw:
        raw = raw.split("/", 1)[0].strip()
    if raw == "T":
        return True
    if raw == "F":
        return False
    if _NUM_RE.match(raw):
        f = float(raw.upper().replace("D", "E"))
        return int(f) if f.is_integer() and "." not in raw \
            and "E" not in raw.upper() else f
    return raw


def parse_header(buf: bytes, offset: int = 0,
                 ) -> tuple[dict, list[str], int]:
    """Parse one header unit starting at `offset`. Returns
    (cards, history, offset_after_header). Raises FitsFormatError if
    the END card is missing before EOF — the corruption the reference's
    verify step must catch (file_corruption.py drops END)."""
    cards: dict = {}
    history: list[str] = []
    pos = offset
    while True:
        if pos + BLOCK > len(buf):
            raise FitsFormatError(
                f"header starting at byte {offset} has no END card "
                "(truncated or corrupted file)")
        block = buf[pos: pos + BLOCK]
        pos += BLOCK
        for i in range(0, BLOCK, CARD):
            card = block[i: i + CARD].decode("ascii", errors="replace")
            key = card[:8].rstrip()
            if key == "END":
                return cards, history, pos
            if key == "HISTORY":
                history.append(card[8:].rstrip())
            elif key in ("COMMENT", ""):
                continue
            elif card[8:10] == "= ":
                cards[key] = _parse_value(card[10:])


# --------------------------------------------------------------------------
# Binary table codec
# --------------------------------------------------------------------------

_TFORM_RE = re.compile(r"^(\d*)([LBIJKEDA])$")
_TYPE_NP = {"L": ">u1", "B": ">u1", "I": ">i2", "J": ">i4", "K": ">i8",
            "E": ">f4", "D": ">f8"}

def _tform_dtype(tform: str) -> tuple[str, int, object]:
    m = _TFORM_RE.match(tform.strip().upper())
    if not m:
        raise FitsFormatError(f"unsupported TFORM {tform!r}")
    rep = int(m.group(1) or 1)
    code = m.group(2)
    if code == "A":
        return code, rep, f"S{rep}"
    np_t = _TYPE_NP[code]
    return code, rep, (np_t if rep == 1 else (np_t, (rep,)))


def _req(cards: dict, key: str):
    """Required card lookup with STRUCTURED failure: a corrupted or
    missing keyword must surface as FitsFormatError (the type the
    permissive scan's quarantine routes on), never a raw KeyError —
    found by the byte-mutation fuzz (tests/test_fits.py)."""
    try:
        return cards[key]
    except KeyError:
        raise FitsFormatError(f"required card {key} missing or "
                              "corrupted") from None


def _req_int(cards: dict, key: str) -> int:
    """Required integer card; non-numeric corruption -> FitsFormatError
    (int('!  0') was escaping as ValueError before the fuzz). The
    value must BE an integer, not merely coerce to one: a corrupted
    NAXIS2 of '5.9' would int() to 5 and silently DROP a table row
    (round-4 review repro), so any float/bool/string here is
    structural corruption."""
    v = _req(cards, key)
    if isinstance(v, bool) or not isinstance(v, int):
        raise FitsFormatError(
            f"card {key} is not an integer: {v!r}")
    return v


def _table_dtype(cards: dict) -> tuple[np.dtype, list[tuple[str, str, int]]]:
    tfields = _req_int(cards, "TFIELDS")
    if not 0 < tfields <= 999:  # FITS limit; also bounds corrupt blowup
        raise FitsFormatError(f"implausible TFIELDS {tfields}")
    meta = []
    seen: set[str] = set()
    for i in range(1, tfields + 1):
        name = str(_req(cards, f"TTYPE{i}")).strip()
        if not name:
            # A corrupt card like `TTYPE2 = /TSYS'` decodes to an empty
            # value ('/' starts a FITS comment). np.dtype silently
            # auto-names the field ('f1'), so the later arr[""] lookup
            # raises a raw ValueError past the quarantine contract.
            raise FitsFormatError(f"empty column name in TTYPE{i}")
        if not all(32 <= ord(c) < 127 for c in name):
            raise FitsFormatError(
                f"non-printable-ASCII column name in TTYPE{i}: {name!r}")
        if name in seen:
            # np.dtype would raise a raw ValueError ('field occurs
            # more than once') — keep the structured-rejection contract
            raise FitsFormatError(f"duplicate column name {name!r}")
        seen.add(name)
        code, rep, _ = _tform_dtype(str(_req(cards, f"TFORM{i}")))
        meta.append((name, code, rep))
    spec = []
    for (name, code, rep) in meta:
        if code == "A":
            spec.append((name, f"S{rep}"))
        elif rep == 1:
            spec.append((name, _TYPE_NP[code]))
        else:
            spec.append((name, _TYPE_NP[code], (rep,)))
    dt = np.dtype(spec)
    return dt, meta


def _bintable_records(buf: bytes, cards: dict, offset: int,
                      ) -> tuple[np.ndarray, list[tuple[str, str, int]]]:
    """The BINTABLE data unit at `offset` as a big-endian structured
    array over `buf` (no copy), plus each field's (TTYPE, code,
    repeat)."""
    if str(cards.get("XTENSION", "")).strip() != "BINTABLE":
        raise FitsFormatError("expected BINTABLE extension")
    naxis1, naxis2 = _req_int(cards, "NAXIS1"), _req_int(cards, "NAXIS2")
    if naxis1 < 0 or naxis2 < 0:
        raise FitsFormatError(
            f"negative table dimensions: NAXIS1={naxis1} NAXIS2={naxis2}")
    dt, meta = _table_dtype(cards)
    if dt.itemsize != naxis1:
        raise FitsFormatError(
            f"row width mismatch: TFORMs give {dt.itemsize} bytes, "
            f"NAXIS1={naxis1}")
    need = naxis1 * naxis2
    if offset + need > len(buf):
        raise FitsFormatError("binary table data truncated")
    return np.frombuffer(buf, dtype=dt, count=naxis2, offset=offset), meta


def _column_values(col: np.ndarray, code: str, rep: int, canon: str):
    """One decoded column: strings for 'A', booleans for 'L', native
    NumPy numbers for a scalar field, per-row lists for a vector."""
    if code == "A":
        try:
            return [v.decode("ascii").rstrip() for v in col]
        except UnicodeDecodeError:
            raise FitsFormatError(
                f"non-ASCII bytes in string column {canon}") from None
    if code == "L":
        # FITS logicals are ASCII 'T'/'F' bytes (0x54/0x46), not
        # 0/1 — `!= 0` would decode every 'F' as True
        return (col == ord("T")) if rep == 1 else \
            [list(v == ord("T")) for v in col]
    native = col.astype(col.dtype.newbyteorder("="))
    return native if rep == 1 else [v.tolist() for v in native]


def parse_bintable(buf: bytes, cards: dict, offset: int) -> pd.DataFrame:
    """Decode the BINTABLE data unit at `offset` into a DataFrame
    (vector columns become per-row lists)."""
    arr, meta = _bintable_records(buf, cards, offset)
    return pd.DataFrame({
        _CANON_NAME.get(name, name):
            _column_values(arr[name], code, rep, _CANON_NAME.get(name, name))
        for name, code, rep in meta})


@dataclass
class FitsObservation:
    header: dict
    history: list[str]
    table: pd.DataFrame


def _parse_headers(buf: bytes) -> tuple[dict, list[str], dict, int]:
    """Parse primary + extension headers only; returns (primary,
    history, ext_cards, data_offset) without touching the data unit."""
    primary, history, pos = parse_header(buf, 0)
    if primary.get("SIMPLE") is not True:
        raise FitsFormatError("primary header missing SIMPLE = T")
    # primary data unit (NAXIS=0 for SDFITS -> zero bytes)
    naxis = _req_int(primary, "NAXIS") if "NAXIS" in primary else 0
    if not 0 <= naxis <= 999:
        raise FitsFormatError(f"implausible NAXIS {naxis}")
    if naxis:
        size = abs(_req_int(primary, "BITPIX")) // 8
        for i in range(1, naxis + 1):
            dim = _req_int(primary, f"NAXIS{i}")
            if dim < 0:
                # a negative dim makes the computed data-unit size
                # negative and walks `pos` BACKWARD into the already-
                # parsed header (same corrupt-input loop class as the
                # BINTABLE/Y4M guards)
                raise FitsFormatError(
                    f"negative primary NAXIS{i} {dim}")
            size *= dim
        pos += math.ceil(size / BLOCK) * BLOCK
    ext, ext_hist, pos = parse_header(buf, pos)
    return primary, history + ext_hist, ext, pos


def parse_sdfits(buf: bytes) -> FitsObservation:
    """S1+S2: parse and structurally verify one SDFITS byte string."""
    primary, history, ext, pos = _parse_headers(buf)
    table = parse_bintable(buf, ext, pos)
    return FitsObservation(header=primary, history=history, table=table)


def parse_sdfits_headers_only(buf: bytes) -> tuple[dict, list[str]]:
    """Header + HISTORY without decoding the binary table — the cheap
    path for metadata scans (a few KB of cards vs the full data unit).
    Still verifies END cards and the row-width/TFORM consistency."""
    primary, history, ext, _pos = _parse_headers(buf)
    dt, _meta = _table_dtype(ext)
    if dt.itemsize != _req_int(ext, "NAXIS1"):
        raise FitsFormatError("row width mismatch in extension header")
    return primary, history


# --------------------------------------------------------------------------
# Writer (S3) + corruption (O22)
# --------------------------------------------------------------------------

def _pad_block(b: bytes, fill: bytes = b"\x00") -> bytes:
    rem = len(b) % BLOCK
    return b if rem == 0 else b + fill * (BLOCK - rem)


def _header_bytes(cards: list[bytes]) -> bytes:
    return _pad_block(b"".join(cards) + b"END".ljust(CARD),
                      fill=b" ")


def write_sdfits(table: pd.DataFrame, header: dict | None = None,
                 history: list[str] | None = None) -> bytes:
    """S3 sink: canonical observation rows -> SDFITS bytes
    (PrimaryHDU header-only + one BINTABLE). Column FITS types are
    inferred: float64 -> D, int -> J, str -> nA (max width), list of
    float -> nD."""
    header = header or {}
    history = history or []
    prim = [_format_card("SIMPLE", True, "conforms to FITS standard"),
            _format_card("BITPIX", 8),
            _format_card("NAXIS", 0),
            _format_card("EXTEND", True)]
    for k, v in header.items():
        prim.append(_format_card(k, v))
    prim.extend(_history_card(h) for h in history)

    spec: list[tuple] = []      # numpy dtype spec
    tforms: list[tuple[str, str]] = []
    arrays: dict[str, np.ndarray] = {}
    for col in table.columns:
        fits_name = _FITS_NAME.get(col, col)
        s = table[col]
        first = s.iloc[0] if len(s) else None
        if isinstance(first, (list, np.ndarray)):
            rep = len(first)
            arrays[col] = np.asarray(
                [np.asarray(v, dtype=">f8") for v in s], dtype=">f8")
            spec.append((col, ">f8", (rep,)))
            tforms.append((fits_name, f"{rep}D"))
        elif pd.api.types.is_bool_dtype(s):
            # FITS logical 'L': one ASCII 'T'/'F' byte per value —
            # without this branch bools fall into the string branch
            # and round-trip as 'True'/'False' 5A strings
            arrays[col] = np.where(s.to_numpy(dtype=bool),
                                   ord("T"), ord("F")).astype(">u1")
            spec.append((col, ">u1"))
            tforms.append((fits_name, "L"))
        elif pd.api.types.is_float_dtype(s):
            arrays[col] = s.to_numpy(dtype=">f8")
            spec.append((col, ">f8"))
            tforms.append((fits_name, "D"))
        elif pd.api.types.is_integer_dtype(s):
            # 64-bit columns write as 'K' — an unconditional >i4 cast
            # would silently wrap values above 2**31-1
            if s.to_numpy().dtype.itemsize > 4:
                arrays[col] = s.to_numpy(dtype=">i8")
                spec.append((col, ">i8"))
                tforms.append((fits_name, "K"))
            else:
                arrays[col] = s.to_numpy(dtype=">i4")
                spec.append((col, ">i4"))
                tforms.append((fits_name, "J"))
        else:
            if pd.api.types.is_datetime64_any_dtype(s):
                # ISO-8601 with 'T' (SDFITS DATE-OBS convention);
                # keep fractional seconds when any timestamp has them,
                # NaT -> empty string (strftime would yield float NaN
                # and break the width computation)
                frac = (s.dt.microsecond.fillna(0) != 0).any()
                fmt = "%Y-%m-%dT%H:%M:%S.%f" if frac \
                    else "%Y-%m-%dT%H:%M:%S"
                vals = s.dt.strftime(fmt).fillna("").tolist()
            else:
                vals = ["" if v is None else str(v) for v in s]
            width = max((len(v) for v in vals), default=1) or 1
            arrays[col] = np.asarray(vals, dtype=f"S{width}")
            spec.append((col, f"S{width}"))
            tforms.append((fits_name, f"{width}A"))
    dt = np.dtype(spec)
    rec = np.zeros(len(table), dtype=dt)
    for col in table.columns:
        rec[col] = arrays[col]

    ext = [_format_card("XTENSION", "BINTABLE", "binary table extension"),
           _format_card("BITPIX", 8),
           _format_card("NAXIS", 2),
           _format_card("NAXIS1", dt.itemsize),
           _format_card("NAXIS2", len(table)),
           _format_card("PCOUNT", 0),
           _format_card("GCOUNT", 1),
           _format_card("TFIELDS", len(tforms))]
    for i, (name, tform) in enumerate(tforms, start=1):
        ext.append(_format_card(f"TTYPE{i}", name))
        ext.append(_format_card(f"TFORM{i}", tform))

    return (_header_bytes(prim) + _header_bytes(ext)
            + _pad_block(rec.tobytes()))


def corrupt_drop_end(buf: bytes) -> bytes:
    """O22 (file_corruption.py:5-34): blank the primary header's END
    card so parse_sdfits must raise FitsFormatError."""
    out = bytearray(buf)
    pos = 0
    while pos + BLOCK <= len(out):
        for i in range(pos, pos + BLOCK, CARD):
            # match the true END card (keyword field is 'END' padded
            # with spaces), not any ENDxxx data keyword — otherwise
            # the injector blanks a harmless card and the corruption
            # test silently stops exercising the verify path
            if bytes(out[i: i + 8]).rstrip() == b"END":
                out[i: i + CARD] = b" " * CARD
                return bytes(out)
        pos += BLOCK
    raise FitsFormatError("no END card found to corrupt")


# --------------------------------------------------------------------------
# Spark source
# --------------------------------------------------------------------------

def observation_struct_fields():
    """The canonical observation columns (SURVEY.md §1.4) as Spark
    StructFields — the single source of truth for the decoded schema
    that read_sdfits and read_sdfits_stream both emit. The doubles are
    the physical filter's columns (F5), so it sees every one of them."""
    from pyspark.sql import types as T

    from radio_data_pipeline_spark.operators.validation import (
        PHYSICAL_COLUMNS,
    )
    return [
        T.StructField("DATE_OBS", T.StringType()),
        T.StructField("DATA", T.ArrayType(T.DoubleType())),
        T.StructField("IFNUM", T.IntegerType()),
        T.StructField("PLNUM", T.IntegerType()),
        T.StructField("CALSTATE", T.IntegerType()),
        T.StructField("SWPVALID", T.IntegerType()),
        T.StructField("OBSMODE", T.StringType()),
        *(T.StructField(c, T.DoubleType()) for c in PHYSICAL_COLUMNS),
    ]


def _decoded_schema():
    """decode_sdfits's frame as a Spark schema (before obs_id)."""
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("corrupt_error", T.StringType()),
        T.StructField("row_idx", T.LongType()),
        *observation_struct_fields(),
    ])


@functools.cache
def _decoded_arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(_decoded_schema())


_INT32_COLS = ("IFNUM", "PLNUM", "CALSTATE", "SWPVALID")


def _data_column(col: np.ndarray, code: str, rep: int, list_type):
    """The DATA vector field as one Arrow list array: the values are
    the table's contiguous rows x rep block and row i spans
    [i*rep, (i+1)*rep). NaN elements become NULL (from_pandas), as the
    NaN mask downstream expects."""
    if code in ("A", "L") or rep == 1:
        raise FitsFormatError(
            f"DATA is not a numeric vector column (TFORM {rep}{code})")
    flat = col.astype(np.float64).reshape(-1)
    offsets = pa.array(np.arange(len(col) + 1, dtype=np.int64) * rep,
                       type=pa.int32())
    return pa.ListArray.from_arrays(
        offsets, pa.array(flat, from_pandas=True), type=list_type)


def decode_sdfits(path: str, content: bytes,
                  permissive: bool) -> pa.RecordBatch:
    """The package's one SDFITS row decode (S1 + S2), shared by the
    batch scan and the stream: one file's bytes -> one Arrow record
    batch in _decoded_schema, one row per table row (row_idx 0..n-1).

    Columns are built from the table's NumPy fields: DATA with
    _data_column, the scalars with pyarrow's pandas semantics (NaN ->
    NULL) after the int32 coercion of the stream keys; a column the
    file lacks is all NULL.

    A file that fails to decode raises in failfast mode; in permissive
    mode it becomes ONE tombstone row (row_idx = -1, corrupt_error =
    the codec's message, observation columns null). Any exception
    counts — damaged cards raise KeyError/ValueError/UnicodeDecodeError
    from deep in the codec, not just FitsFormatError — and so does the
    column coercion: a structurally valid file whose CALSTATE holds
    NaN/strings must quarantine, not kill the corpus scan."""
    schema = _decoded_arrow_schema()
    try:
        _primary, _history, ext, pos = _parse_headers(content)
        arr, meta = _bintable_records(content, ext, pos)
        fields = {_CANON_NAME.get(name, name): (name, code, rep)
                  for name, code, rep in meta}
        n = len(arr)
        columns = [pa.array([path] * n, pa.string()),
                   pa.nulls(n, pa.string()),
                   pa.array(np.arange(n, dtype=np.int64))]
        for field in list(schema)[3:]:
            if field.name not in fields:
                columns.append(pa.nulls(n, field.type))
                continue
            name, code, rep = fields[field.name]
            if field.name == "DATA":
                columns.append(_data_column(arr[name], code, rep, field.type))
                continue
            values = _column_values(arr[name], code, rep, field.name)
            if field.name in _INT32_COLS:
                values = pd.Series(values).astype("int32").to_numpy()
            columns.append(pa.array(values, field.type, from_pandas=True))
        return pa.RecordBatch.from_arrays(columns, schema=schema)
    except Exception as exc:
        if not permissive:
            raise
        return pa.RecordBatch.from_arrays(
            [pa.array([path]), pa.array([str(exc)]),
             pa.array([-1], pa.int64()),
             *(pa.nulls(1, f.type) for f in list(schema)[3:])],
            schema=schema)


def _is_permissive(mode: str) -> bool:
    if mode.lower() not in ("failfast", "permissive"):
        raise ValueError(f"unknown mode {mode!r}")
    return mode.lower() == "permissive"


def _hidden(name: str) -> bool:
    """Spark's file-index rule: a name beginning with '.', or with '_'
    and holding no '=' (a partition directory), or ending in
    '._COPYING_' is not a data file, so binaryFile skips it (a
    `_SUCCESS` marker, a `.crc` checksum)."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _scan_files(matched, is_dir, children, is_file, name) -> list:
    """The one rule for which files a path or glob names, shared by
    the Hadoop listing (_list_files) and the stream's local listing:
    of the entries the glob matched, a directory stands for the
    entries one level down (binaryFile's non-recursive default), only
    files are kept, and _hidden names are skipped, also a name the
    glob matched directly. The callables read an entry of the caller's
    file system."""
    found = []
    for entry in matched:
        found.extend(children(entry) if is_dir(entry) else [entry])
    return [f for f in found if is_file(f) and not _hidden(name(f))]


def _list_files(spark, path_glob: str, permissive: bool):
    """(fs, matched, files, empty) for a path or glob, from one Hadoop
    globStatus: the qualified paths the glob matches, the FileStatus of
    every file a binaryFile scan of them reads (_scan_files), and the
    sorted qualified paths of the 0-byte ones.
    Metadata only, the same class of work InMemoryFileIndex does to
    plan the scan. failfast raises _zero_length_error for a 0-byte
    file here, at planning time."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    globbed = list(fs.globStatus(jpath) or [])
    matched = [fs.makeQualified(s.getPath()).toString() for s in globbed]
    files = _scan_files(globbed, is_dir=lambda s: s.isDirectory(),
                        children=lambda s: fs.listStatus(s.getPath()),
                        is_file=lambda s: s.isFile(),
                        name=lambda s: s.getPath().getName())
    empty = sorted(fs.makeQualified(c.getPath()).toString()
                   for c in files if c.getLen() == 0)
    if empty and not permissive:
        raise _zero_length_error(empty)
    return fs, matched, files, empty


def _binary_files(spark, path_glob: str, permissive: bool):
    """(path, content) of every file the glob matches, for the decode.

    binaryFile loads the matched paths of _list_files, not the
    pattern: Spark's metadata-directory probe stats a single load path
    literally, and on a glob that logs a WARN with a
    FileNotFoundException stack trace on every call. A pattern that
    matches nothing is loaded as given, so it raises Spark's
    path-not-found error.

    Spark's file scan plans NO splits for zero-length files, so a file
    truncated to 0 bytes would never reach the decode task and would
    silently vanish from the scan in both modes. failfast raises at
    planning time; permissive feeds each such file to the decode as
    b'' so it becomes the same tombstone a corrupt file gets."""
    _fs, matched, _files, empty_paths = _list_files(spark, path_glob,
                                                    permissive)
    files = spark.read.format("binaryFile").load(matched or path_glob) \
        .select("path", "content")
    if empty_paths:
        files = files.unionByName(spark.createDataFrame(
            [(p, bytearray()) for p in empty_paths], files.schema))
    return files


def _empty_file_verdict() -> str:
    """The codec's own FitsFormatError message for b'' — the verdict
    a zero-length file gets in every reader."""
    try:
        parse_sdfits(b"")
    except FitsFormatError as exc:
        return str(exc)
    raise AssertionError(
        "parse_sdfits accepted a zero-length file")  # pragma: no cover


def _zero_length_error(empty_paths: list[str]) -> FitsFormatError:
    """The failfast error for 0-byte files in a batch scan, raised at
    planning time exactly as a decode failure would be at run time."""
    return FitsFormatError(
        f"zero-length file(s) in scan: {empty_paths[:3]}"
        f"{'...' if len(empty_paths) > 3 else ''} "
        f"({len(empty_paths)} total) — {_empty_file_verdict()}")


def read_sdfits(spark, path_glob: str, mode: str = "failfast"):
    """S1 as a distributed scan: binaryFile -> decode_sdfits in
    mapInArrow, one task per file. Returns a DataFrame in the
    canonical observation schema plus (path, corrupt_error, row_idx,
    obs_id). obs_id = xxhash64(path) — computed map-side with no
    shuffle, so a corpus of millions of files never funnels through
    one task.

    mode='failfast' (default): structural corruption (S2) fails the
    decoding task, matching the reference's verify('exception') hard
    stop. mode='permissive': corrupt files contribute zero data rows
    and ONE tombstone row (row_idx = -1, corrupt_error set) so a
    corpus scan survives bad files and the quarantine list is
    `df.filter("row_idx = -1")`."""
    from pyspark.sql import functions as F

    permissive = _is_permissive(mode)
    files = _binary_files(spark, path_glob, permissive)

    def decode(batches: Iterator[pa.RecordBatch],
               ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for path, content in zip(batch.column("path").to_pylist(),
                                     batch.column("content").to_pylist()):
                yield decode_sdfits(path, content, permissive)

    return files.mapInArrow(decode, schema=_decoded_schema()) \
        .withColumn("obs_id", F.xxhash64("path"))


def _expand_braces(pattern: str) -> list[str]:
    """The plain patterns a Hadoop glob's `{a,b}` alternation stands
    for, nested groups included (`{a,b{c,d}}` -> a, bc, a, bd), for a
    listing through Python `glob`, which has no alternation: the
    innermost group is expanded first. An unpaired brace is literal."""
    group = re.search(r"\{([^{}]*)\}", pattern)
    if group is None:
        return [pattern]
    return [out for alt in group.group(1).split(",")
            for out in _expand_braces(pattern[:group.start()] + alt
                                      + pattern[group.end():])]


class _SdfitsStreamReader(DataSourceStreamReader):
    """Streaming SDFITS ingest: each micro-batch picks up observation
    files that appeared under the glob since the last offset. Offsets
    are planned on the driver from a listing (metadata only); each new
    file is one partition, read and decoded on an executor.

    Offset = modification-time watermark + frontier set, NOT the full
    consumed-path history, so its size is bounded by the files inside
    one grace window regardless of corpus size (pinned by
    tests/test_fits.py):

    - ``wm_floor``: every file with mtime strictly below this is
      consumed;
    - ``recent``: the consumed files with mtime >= wm_floor (the
      frontier — new files can still land inside the grace window with
      interleaving mtimes, e.g. clock skew between writers).

    consumed(offset) = {mtime < wm_floor} ∪ recent, so
    ``partitions(start, end)`` is exactly consumed(end) −
    consumed(start) from the listing — deterministic on replay because
    obs_id is a pure path hash and files are immutable once they
    appear (the append-only contract every file stream source
    assumes).

    Paths are driver/executor-visible filesystem globs (local or
    shared mounts); the decoded ``path`` is the ``file:`` URI that
    binaryFile gives, so ids match read_sdfits."""

    #: files whose mtime is within this many seconds of the newest
    #: mtime stay in the frontier set — tolerance for writers whose
    #: clocks lag the newest file
    GRACE_S = 5.0

    def __init__(self, path_glob: str, permissive: bool):
        self._glob = path_glob
        self._permissive = permissive

    def _list(self) -> list[tuple[str, float]]:
        import glob
        import os

        matched = [p for pattern in _expand_braces(self._glob)
                   for p in glob.glob(pattern)]
        files = _scan_files(
            matched, is_dir=os.path.isdir,
            children=lambda d: [os.path.join(d, n) for n in os.listdir(d)],
            is_file=os.path.isfile, name=os.path.basename)
        out = []
        for p in sorted(set(files)):
            try:
                out.append((p, os.stat(p).st_mtime))
            except OSError:
                continue  # listed-then-vanished race
        return out

    @staticmethod
    def _consumed(offset: dict, path: str, mtime: float) -> bool:
        return mtime < offset["wm_floor"] or path in set(offset["recent"])

    def initialOffset(self) -> dict:
        return {"wm_floor": -1.0, "recent": []}

    def latestOffset(self) -> dict:
        files = self._list()
        if not files:
            return self.initialOffset()
        floor = max(mt for _, mt in files) - self.GRACE_S
        return {"wm_floor": floor,
                "recent": sorted(p for p, mt in files if mt >= floor)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [InputPartition(p) for p, mt in self._list()
                if self._consumed(end, p, mt)
                and not self._consumed(start, p, mt)]

    def read(self, partition: InputPartition):
        with open(partition.value, "rb") as fh:
            content = fh.read()
        yield decode_sdfits("file:" + partition.value, content,
                            self._permissive)


class _SdfitsStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sdfits"

    def schema(self):
        return _decoded_schema()

    def streamReader(self, schema) -> _SdfitsStreamReader:
        return _SdfitsStreamReader(
            self.options["path"], _is_permissive(self.options["mode"]))


def read_sdfits_stream(spark, path_glob: str, mode: str = "failfast"):
    """read_sdfits as a stream: every file that appears under the glob
    is decoded once, on an executor, by the same decode_sdfits, into
    the same columns (path, corrupt_error, row_idx, observation
    columns, obs_id = xxhash64(path)). A file therefore gets the same
    rows, ids and corruption verdict from either reader; a 0-byte file
    reaches the decode as b'' and is tombstoned (permissive) or fails
    the query (failfast) like any other corrupt file.

    The stream reads the files the path names by read_sdfits's rule
    (_scan_files): a directory reads its files one level down, and
    hidden names (`_SUCCESS`, `.crc`, `._COPYING_`) are skipped. The
    listing runs in PySpark's Python stream-source worker, which has
    no JVM gateway and so no Hadoop FileSystem: paths are local or
    mounted only. The pattern takes Hadoop's `{a,b}` alternation,
    nested groups included, expanded before Python `glob` lists each
    alternative."""
    import os

    from pyspark.sql import functions as F

    _is_permissive(mode)
    spark.dataSource.register(_SdfitsStreamSource)
    # absolute, so "file:" + path is the URI binaryFile gives
    return (spark.readStream.format("sdfits").option("mode", mode)
            .load(os.path.abspath(path_glob))
            .withColumn("obs_id", F.xxhash64("path")))


def read_sdfits_headers(spark, path_glob: str):
    """Per-file header + HISTORY as JSON — the broadcast-dict feed for
    the P1/P2 driver-side parsers (utils.py:9-103). A 0-byte file
    fails the scan, as in read_sdfits failfast."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("header_json", T.StringType()),
        T.StructField("history_json", T.StringType()),
    ])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # header-only parse: never decodes the data unit
            parsed = [parse_sdfits_headers_only(bytes(c))
                      for c in pdf["content"]]
            yield pdf[["path"]].assign(
                header_json=[json.dumps(h) for h, _ in parsed],
                history_json=[json.dumps(h) for _, h in parsed])

    return _binary_files(spark, path_glob, permissive=False) \
        .mapInPandas(decode, schema=schema)


def read_sdfits_header(spark, path_glob: str) -> tuple[dict, list[str]]:
    """The primary header and HISTORY of the one SDFITS file
    `path_glob` matches (a file, or a directory holding one file), read
    on the driver through the Hadoop FileSystem that lists it — no
    Spark job.

    Reads the file's leading 2880-byte blocks, doubling the read until
    parse_sdfits_headers_only finds both END cards, so a normal file
    costs a few KB however large its table is. A glob matching other
    than one file raises ValueError; a 0-byte file raises the
    failfast scan's zero-length error, and a file whose headers have no
    END card the codec's own FitsFormatError, the same errors a
    read_sdfits_headers scan raises."""
    fs, _matched, files, _empty = _list_files(spark, path_glob,
                                              permissive=False)
    if len(files) != 1:
        raise ValueError(f"expected one SDFITS file; {path_glob!r} "
                         f"matched {len(files)}")
    size = files[0].getLen()
    stream = fs.open(files[0].getPath())
    try:
        buf = b""
        while True:
            chunk = bytes(stream.readNBytes(max(len(buf), BLOCK)))
            buf += chunk
            try:
                return parse_sdfits_headers_only(buf)
            except FitsFormatError:
                if not chunk or len(buf) >= size:
                    raise
    finally:
        stream.close()
