"""Parquet footer → DataFile stats harvesting
(iceberg-rust/src/file_format/parquet.rs:30-267).

Two execution modes:
- ``distributed=True`` (default for many files): footer reads run on
  *executors* via an RDD over file paths — at 100 TB a commit can add tens
  of thousands of files and the driver must not read every footer serially
  (SURVEY §7 risks).
- driver-side fallback for small commits (cheaper than a Spark job).

Bound values are normalized JSON-native: date → ISO string,
timestamp → epoch micros int, bytes → skipped, NaN → skipped.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math
import os
import struct as _struct

from iceberg_rust_archive_spark.spec.manifest import CONTENT_DATA, DataFile
from iceberg_rust_archive_spark.spec.types import DECIMAL_CONTEXT

# Sentinel for a row-group stat that exists but cannot be decoded (lazy
# pyarrow cast failure, unknown physical type, un-decodable bytes) —
# distinct from "no stats recorded" (None) only in intent; both poison
# the file-level bound in the shared reduction.
_UNDECODABLE = object()


# String bounds are truncated like the spec's write.metadata default
# (truncate(16), TableMetadataBuilder METRICS defaults): a manifest row
# must stay O(small) per column even when the column holds documents —
# full-text min/max would make metadata scale with content length.
TRUNCATE_BOUND_LEN = 16


def _trunc_lower(v):
    """Lower bounds truncate plainly: prefix ≤ every value it bounds."""
    if isinstance(v, str) and len(v) > TRUNCATE_BOUND_LEN:
        return v[:TRUNCATE_BOUND_LEN]
    return v


def _trunc_upper(v):
    """Upper bounds truncate then increment the last incrementable code
    point, so the result still upper-bounds every value sharing the
    prefix; un-incrementable (all U+10FFFF) → drop the bound.

    Incrementing U+D7FF must jump over the UTF-16 surrogate block to
    U+E000 (mirrors Iceberg's UnicodeUtil.truncateStringMax): lone
    surrogates are not encodable, so chr(0xD800) would blow up the
    Avro manifest writer's UTF-8 encode and fail the commit.

    The result is NUL-padded back to TRUNCATE_BOUND_LEN: incrementing a
    mid-string code point drops the tail, and a SHORTER-than-16 bound
    would pass ``metadata_min_max``'s length gate and be returned as an
    exact max larger than the true max.  Appending characters only
    INCREASES a string lexicographically, so the padded value still
    upper-bounds everything the unpadded one did, and its full length
    marks it as truncated for every exactness gate."""
    if isinstance(v, str) and len(v) > TRUNCATE_BOUND_LEN:
        t = v[:TRUNCATE_BOUND_LEN]
        for i in range(len(t) - 1, -1, -1):
            cp = ord(t[i])
            if cp == 0xD7FF:
                return (t[:i] + chr(0xE000)).ljust(TRUNCATE_BOUND_LEN, "\0")
            if cp < 0x10FFFF and not 0xD800 <= cp < 0xDFFF:
                return (t[:i] + chr(cp + 1)).ljust(TRUNCATE_BOUND_LEN, "\0")
        return None
    return v


def _norm_bound(v):
    if v is None:
        return None
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    return v


def _harvest_one_orc(path: str, field_ids: dict[str, int],
                     partition: dict | None,
                     content: int,
                     equality_ids: tuple[int, ...] | None,
                     no_trunc_fids: frozenset = frozenset()) -> DataFile:
    """ORC DataFile stats: pyarrow's ORC reader exposes no per-stripe
    column statistics API, so bounds come from reading the file back and
    reducing with pyarrow.compute (C-side, GIL-released). Costlier than
    a parquet footer read, but it runs once per written file, on the
    executors above the distributed threshold — the same I/O locality
    the write itself had. column_sizes are apportioned from in-memory
    Arrow buffer sizes (relative, not exact on-disk bytes)."""
    import pyarrow.compute as pc
    import pyarrow.orc as po

    f = po.ORCFile(path)
    tbl = f.read()
    fsize = os.path.getsize(path)
    col_sizes: dict[int, int] = {}
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    nan_counts: dict[int, int] = {}
    lowers: dict[int, object] = {}
    uppers: dict[int, object] = {}
    mem_total = max(1, tbl.nbytes)
    for name in tbl.column_names:
        fid = field_ids.get(name)
        if fid is None:
            continue
        col = tbl.column(name)
        value_counts[fid] = len(col)
        null_counts[fid] = col.null_count
        col_sizes[fid] = max(1, fsize * col.nbytes // mem_total)
        import pyarrow.types as _pt
        if _pt.is_floating(col.type):
            # the data is in hand — exact NaN counts are free here
            # (writer-independent, unlike the parquet footer inference)
            nan_counts[fid] = int(pc.sum(
                pc.is_nan(col).cast("int64"), min_count=0).as_py() or 0)
        if len(col) == col.null_count:
            continue
        try:
            lo = _norm_bound(pc.min(col).as_py())
            hi = _norm_bound(pc.max(col).as_py())
        except Exception:  # noqa: BLE001 — nested/unordered types
            continue
        if lo is not None:
            lowers[fid] = lo
        if hi is not None:
            uppers[fid] = hi

    lowers = {fid: v if fid in no_trunc_fids else _trunc_lower(v)
              for fid, v in lowers.items()}
    uppers = {fid: u for fid, v in uppers.items()
              if (u := (v if fid in no_trunc_fids
                        else _trunc_upper(v))) is not None}
    return DataFile(
        content=content, file_path=path, file_format="orc",
        partition=partition or {}, record_count=f.nrows,
        file_size_in_bytes=fsize,
        column_sizes=col_sizes, value_counts=value_counts,
        null_value_counts=null_counts, nan_value_counts=nan_counts,
        lower_bounds=lowers, upper_bounds=uppers,
        equality_ids=equality_ids)


def _parquet_num_rows(path: str) -> int:
    """Read FileMetaData.num_rows (field 3, i64) straight from the
    parquet footer with a minimal Thrift compact-protocol walker —
    used when pyarrow's footer parser predates a logical type in the
    file (e.g. Spark's v3 VARIANT annotation). Unknown fields are
    skipped structurally, so new annotations can never break it."""
    buf = _footer_buf(path)
    pos = 0

    def _uvarint():
        nonlocal pos
        out = shift = 0
        while True:
            b = buf[pos]
            pos += 1
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def _skip(ftype, in_container=False):
        nonlocal pos
        if ftype in (1, 2):        # BOOLEAN_TRUE / BOOLEAN_FALSE
            if in_container:       # container bools are one byte each
                pos += 1
            return
        if ftype == 3:             # BYTE
            pos += 1
        elif ftype in (4, 5, 6):   # I16 / I32 / I64 (zigzag varints)
            _uvarint()
        elif ftype == 7:           # DOUBLE
            pos += 8
        elif ftype == 8:           # BINARY/STRING
            # NOTE: `pos += _uvarint()` would read the OLD pos before
            # the varint read advances it — evaluate the length first
            blen = _uvarint()
            pos += blen
        elif ftype in (9, 10):     # LIST / SET
            head = buf[pos]
            pos += 1
            size, etype = head >> 4, head & 0x0F
            if size == 15:
                size = _uvarint()
            for _ in range(size):
                _skip(etype, in_container=True)
        elif ftype == 11:          # MAP
            size = _uvarint()
            if size:
                types = buf[pos]
                pos += 1
                kt, vt = types >> 4, types & 0x0F
                for _ in range(size):
                    _skip(kt, in_container=True)
                    _skip(vt, in_container=True)
        elif ftype == 12:          # STRUCT
            _skip_struct()
        else:
            raise ValueError(f"bad thrift compact type {ftype}")

    def _skip_struct():
        nonlocal pos
        fid = 0
        while True:
            head = buf[pos]
            pos += 1
            if head == 0:          # STOP
                return
            delta, ftype = head >> 4, head & 0x0F
            if delta:
                fid += delta
            else:
                z = _uvarint()
                fid = (z >> 1) ^ -(z & 1)
            _skip(ftype)

    # walk the top-level FileMetaData struct looking for field 3 (I64)
    fid = 0
    while pos < len(buf):
        head = buf[pos]
        pos += 1
        if head == 0:
            break
        delta, ftype = head >> 4, head & 0x0F
        if delta:
            fid += delta
        else:
            z = _uvarint()
            fid = (z >> 1) ^ -(z & 1)
        if fid == 3 and ftype == 6:
            z = _uvarint()
            return (z >> 1) ^ -(z & 1)
        _skip(ftype)
    raise ValueError(f"num_rows not found in parquet footer: {path}")


# --- full footer walk: per-column stats without pyarrow --------------------
# A generic Thrift compact-protocol reader (parquet.thrift's on-disk
# footer encoding). Unknown fields — including logical-type annotations
# newer than any library here, which is the whole reason this path
# exists — parse structurally into plain dicts and are simply ignored.
# Reference for WHAT must be harvested: the pyarrow path above and
# iceberg-rust/src/file_format/parquet.rs:30-267.

def _footer_buf(path: str) -> bytes:
    if path.startswith("file:"):
        import re as _re
        path = _re.sub(r"^file:/+", "/", path)
    with open(path, "rb") as f:
        f.seek(-8, os.SEEK_END)
        tail = f.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"not a parquet file: {path}")
        flen = int.from_bytes(tail[:4], "little")
        f.seek(-(8 + flen), os.SEEK_END)
        return f.read(flen)


def _t_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _t_value(buf: bytes, pos: int, ftype: int):
    """Decode one compact-protocol value of container/element type
    ``ftype`` → (python value, new pos). Structs → {field id: value}."""
    if ftype == 1:                      # BOOL element inside a container
        v = buf[pos]
        return v == 1, pos + 1
    if ftype == 3:                      # BYTE
        return int.from_bytes(buf[pos:pos + 1], "little", signed=True), pos + 1
    if ftype in (4, 5, 6):              # I16 / I32 / I64 zigzag varint
        z, pos = _t_uvarint(buf, pos)
        return (z >> 1) ^ -(z & 1), pos
    if ftype == 7:                      # DOUBLE (little-endian)
        return _struct.unpack_from("<d", buf, pos)[0], pos + 8
    if ftype == 8:                      # BINARY / STRING
        blen, pos = _t_uvarint(buf, pos)
        return bytes(buf[pos:pos + blen]), pos + blen
    if ftype in (9, 10):                # LIST / SET
        head = buf[pos]
        pos += 1
        size, etype = head >> 4, head & 0x0F
        if size == 15:
            size, pos = _t_uvarint(buf, pos)
        out = []
        for _ in range(size):
            v, pos = _t_value(buf, pos, etype)
            out.append(v)
        return out, pos
    if ftype == 11:                     # MAP
        size, pos = _t_uvarint(buf, pos)
        if not size:
            return {}, pos
        types = buf[pos]
        pos += 1
        kt, vt = types >> 4, types & 0x0F
        out = {}
        for _ in range(size):
            k, pos = _t_value(buf, pos, kt)
            v, pos = _t_value(buf, pos, vt)
            out[k] = v
        return out, pos
    if ftype == 12:                     # STRUCT
        return _t_struct(buf, pos)
    raise ValueError(f"bad thrift compact type {ftype}")


def _t_struct(buf: bytes, pos: int) -> tuple[dict, int]:
    out: dict = {}
    fid = 0
    while True:
        head = buf[pos]
        pos += 1
        if head == 0:                   # STOP
            return out, pos
        delta, ftype = head >> 4, head & 0x0F
        if delta:
            fid += delta
        else:
            z, pos = _t_uvarint(buf, pos)
            fid = (z >> 1) ^ -(z & 1)
        if ftype == 1:                  # BOOLEAN_TRUE packed in the nibble
            out[fid] = True
        elif ftype == 2:                # BOOLEAN_FALSE
            out[fid] = False
        else:
            out[fid], pos = _t_value(buf, pos, ftype)
    return out, pos


# parquet.thrift Type enum (physical types)
_PT_BOOLEAN, _PT_INT32, _PT_INT64, _PT_INT96 = 0, 1, 2, 3
_PT_FLOAT, _PT_DOUBLE, _PT_BYTE_ARRAY, _PT_FLBA = 4, 5, 6, 7
# ConvertedType enum values we interpret (the legacy annotation)
_CT_KIND = {0: "string", 4: "string", 5: "decimal", 6: "date",
            7: "time_ms", 8: "time_us", 9: "ts_ms", 10: "ts_us",
            11: "uint", 12: "uint", 13: "uint", 14: "uint",
            15: "int", 16: "int", 17: "int", 18: "int",
            19: "poison", 20: "poison", 21: "poison"}  # JSON/BSON/INTERVAL


def _leaf_kind(elem: dict) -> dict:
    """SchemaElement → how to interpret this leaf's statistics bytes.
    Returns {kind, scale, utc}. ``poison`` marks annotations whose stats
    representation we refuse to guess at (sound: the reduction drops
    the bound, never fabricates one)."""
    info = {"kind": None, "scale": 0, "utc": True}
    lt = elem.get(10)                   # LogicalType union (one key)
    if isinstance(lt, dict) and lt:
        k = next(iter(lt))
        if k in (1, 4):                 # STRING / ENUM
            info["kind"] = "string"
        elif k == 5:                    # DECIMAL {1: scale, 2: precision}
            info["kind"] = "decimal"
            info["scale"] = lt[k].get(1, elem.get(7, 0))
        elif k == 6:
            info["kind"] = "date"
        elif k == 7:                    # TIME {1: utc, 2: unit union}
            unit = next(iter(lt[k].get(2, {1: {}})))
            info["kind"] = {1: "time_ms", 2: "time_us"}.get(unit, "poison")
        elif k == 8:                    # TIMESTAMP {1: utc, 2: unit union}
            unit = next(iter(lt[k].get(2, {2: {}})))
            info["kind"] = {1: "ts_ms", 2: "ts_us", 3: "ts_ns"}.get(
                unit, "poison")
            info["utc"] = bool(lt[k].get(1, True))
        elif k == 10:                   # INTEGER {1: bitWidth, 2: isSigned}
            info["kind"] = "int" if lt[k].get(2, True) else "uint"
        elif k in (2, 3, 11):           # MAP / LIST / UNKNOWN on a leaf
            info["kind"] = None
        else:                           # JSON/BSON/UUID/FLOAT16/VARIANT/…
            info["kind"] = "poison"
        return info
    ct = elem.get(6)
    if ct is not None:
        info["kind"] = _CT_KIND.get(ct, "poison")
        if info["kind"] == "decimal":
            info["scale"] = elem.get(7, 0)
    return info


def _schema_leaf_map(elems: list[dict]) -> tuple[dict, list[str]]:
    """Preorder SchemaElement list → ({dotted leaf path: leaf info},
    [top-level nested column names]). The dotted path matches pyarrow's
    ``path_in_schema`` (root excluded)."""
    leaves: dict[str, dict] = {}
    groups: list[str] = []
    idx = 1                             # elems[0] is the root

    def walk(prefix: list[str], top: bool):
        nonlocal idx
        e = elems[idx]
        idx += 1
        name = e[4].decode("utf-8")
        path = prefix + [name]
        n_children = e.get(5) or 0
        if n_children:
            if top:
                groups.append(name)
            for _ in range(n_children):
                walk(path, False)
        else:
            leaves[".".join(path)] = _leaf_kind(e)

    for _ in range(elems[0].get(5) or 0):
        walk([], True)
    return leaves, groups


def _decode_stat(raw: bytes, ptype: int, leaf: dict):
    """Statistics min/max bytes → the same Python value pyarrow's
    ``st.min``/``st.max`` yields for that column type, so the shared
    reduction (and ``_norm_bound``) treats both paths identically."""
    kind = leaf.get("kind")
    if kind == "poison":
        raise ValueError("refusing to decode stats for this annotation")
    if ptype == _PT_BOOLEAN:
        return raw[0] != 0
    if ptype in (_PT_INT32, _PT_INT64):
        width = 4 if ptype == _PT_INT32 else 8
        if len(raw) != width:
            raise ValueError("stat width mismatch")
        v = int.from_bytes(raw, "little", signed=(kind != "uint"))
        if kind == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
        if kind == "decimal":
            return _dec.Decimal(v).scaleb(-leaf["scale"], DECIMAL_CONTEXT)
        if kind in ("ts_ms", "ts_us", "ts_ns"):
            us = {"ts_ms": v * 1000, "ts_us": v,
                  "ts_ns": v // 1000}[kind]
            tz = _dt.timezone.utc if leaf.get("utc") else None
            return (_dt.datetime(1970, 1, 1, tzinfo=tz)
                    + _dt.timedelta(microseconds=us))
        if kind in ("time_ms", "time_us"):
            us = v * 1000 if kind == "time_ms" else v
            return (_dt.datetime.min + _dt.timedelta(microseconds=us)).time()
        return v
    if ptype == _PT_FLOAT:
        return _struct.unpack("<f", raw)[0]
    if ptype == _PT_DOUBLE:
        return _struct.unpack("<d", raw)[0]
    if ptype in (_PT_BYTE_ARRAY, _PT_FLBA):
        if kind == "string":
            return raw.decode("utf-8")
        if kind == "decimal":
            return _dec.Decimal(
                int.from_bytes(raw, "big", signed=True)).scaleb(
                    -leaf["scale"], DECIMAL_CONTEXT)
        return bytes(raw)
    raise ValueError(f"no stats decode for physical type {ptype}")  # INT96


# Deprecated Statistics.min/max (fields 2/1) predate defined sort
# orders; parquet-format says readers may only trust them where the
# comparison is SIGNED — plain numeric/boolean physical types.
_SIGNED_OK = {_PT_BOOLEAN, _PT_INT32, _PT_INT64, _PT_FLOAT, _PT_DOUBLE}


def _walk_parquet_stats(path: str, field_ids: dict[str, int]):
    """Parse the whole footer with the thrift walker → ``(num_rows,
    rg_chunks, group_fids)`` in the exact shape ``_reduce_chunks``
    consumes. Raises on anything unexpected — the caller degrades to
    the stats-less fallback."""
    meta, _ = _t_struct(_footer_buf(path), 0)
    nrows = meta.get(3)
    if not isinstance(nrows, int):
        raise ValueError(f"num_rows not found in parquet footer: {path}")
    leaves, top_groups = _schema_leaf_map(meta.get(2) or [])
    rg_chunks = []
    for rg in meta.get(4) or []:        # FileMetaData.row_groups
        chunks = []
        for cc in rg.get(1) or []:      # RowGroup.columns
            md = cc.get(3)              # ColumnChunk.meta_data
            if not isinstance(md, dict):
                raise ValueError("column chunk without inline metadata")
            name = ".".join(p.decode("utf-8") for p in md.get(3) or [])
            ptype = md.get(1)
            leaf = leaves.get(name) or {"kind": None, "scale": 0}
            st = md.get(12)             # ColumnMetaData.statistics
            nc, mm = None, None
            if isinstance(st, dict):
                nc = st.get(3)          # null_count
                if 6 in st and 5 in st:         # min_value / max_value
                    raw = (st[6], st[5])
                elif (2 in st and 1 in st and ptype in _SIGNED_OK
                        and leaf.get("kind") not in ("uint",)):
                    raw = (st[2], st[1])        # deprecated min / max
                else:
                    raw = None
                if raw is not None:
                    try:
                        mm = (_decode_stat(raw[0], ptype, leaf),
                              _decode_stat(raw[1], ptype, leaf))
                    except Exception:  # noqa: BLE001
                        mm = _UNDECODABLE
            chunks.append((name, md.get(5, 0), md.get(7, 0), nc, mm))
        rg_chunks.append(chunks)
    group_fids = {field_ids[n] for n in top_groups if n in field_ids}
    return nrows, rg_chunks, group_fids


_NAN_IN_MAX: bool | None = None


def writer_nan_in_max(spark) -> bool:
    """Does THIS session's parquet writer include NaN in the max stat
    (parquet-mr's Double.compare order puts NaN above everything, so
    any NaN in a chunk surfaces as ``max = NaN``)? If yes, a decoded
    NaN-free max PROVES the chunk holds no NaNs and
    ``nan_value_counts = 0`` becomes a free harvest from the footer —
    re-enabling ``>``/``>=`` pruning on float/double columns that the
    NaN-blind rule must otherwise keep (Iceberg-java records nan counts
    in its writer for exactly this reason). pyarrow's C++ writer SKIPS
    NaNs when computing stats, so the inference is writer-specific:
    probed ONCE per process against the actual writer, never assumed
    from version strings, and applied only to files this engine just
    wrote (never to add_files registrations of foreign parquet)."""
    global _NAN_IN_MAX
    if _NAN_IN_MAX is None:
        import glob
        import shutil
        import tempfile
        d = tempfile.mkdtemp(prefix="nan-stats-probe-")
        try:
            (spark.createDataFrame(
                [(float("nan"), float("nan")), (1.0, 1.0)],
                "v double, w float")
             .coalesce(1).write.mode("overwrite").parquet(d))
            f = glob.glob(os.path.join(d, "*.parquet"))[0]
            _, rg_chunks, _ = _walk_parquet_stats(f, {"v": 1, "w": 2})
            # BOTH widths must show NaN in max — FloatStatistics and
            # DoubleStatistics are separate comparators in parquet-mr
            _NAN_IN_MAX = all(
                mm is not None and mm is not _UNDECODABLE
                and isinstance(mm[1], float) and math.isnan(mm[1])
                for mm in (c[4] for c in rg_chunks[0]))
        except Exception:  # noqa: BLE001 — probe failure → no inference
            _NAN_IN_MAX = False
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return _NAN_IN_MAX


def harvest_one(path: str, field_ids: dict[str, int],
                partition: dict | None = None,
                content: int = CONTENT_DATA,
                equality_ids: tuple[int, ...] | None = None,
                nan_zero_ok: bool = False,
                no_trunc_fids: frozenset = frozenset()) -> DataFile:
    """Read one footer and aggregate row-group stats per column.
    ``field_ids`` maps column name → iceberg field id. ORC files (by
    extension) route to the Arrow-reduction harvester.

    Parquet footers parse WALKER-FIRST (r13): the thrift compact-
    protocol walker decodes strictly more than pyarrow's statistics
    API — INT32/INT64-backed decimal bounds (how Spark writes every
    decimal at precision ≤ 18; pyarrow only decodes FLBA decimal
    stats, so engine decimal columns harvested NO bounds and a price
    predicate never pruned a file), INT96 null counts, and footers
    carrying annotations pyarrow can't open at all (v3 VARIANT).
    Equality with pyarrow on its decodable surface is property-tested
    per round (tests/test_footer_walker.py); pyarrow remains the
    fallback for anything the walker refuses (and for non-local paths,
    where ``open()`` can't reach the bytes)."""
    if path.endswith(".orc"):
        return _harvest_one_orc(path, field_ids, partition, content,
                                equality_ids, no_trunc_fids)
    if "://" not in path or path.startswith("file:"):
        try:
            nrows, rg_chunks, group_fids = _walk_parquet_stats(
                path, field_ids)
            return _reduce_chunks(
                rg_chunks, nrows, group_fids, path, field_ids,
                partition, content, equality_ids, nan_zero_ok,
                no_trunc_fids)
        except Exception:  # noqa: BLE001 — malformed/exotic footer
            pass
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
    except OSError as e:
        if "LogicalType" in str(e):
            # pyarrow predates a logical type in the footer AND the
            # walker above already refused — last-resort degrade: a
            # stats-less DataFile with the exact record count from the
            # minimal num_rows walker. No bounds means pruning and the
            # metadata-count fast path don't engage for this file;
            # correctness is unaffected (residual filters re-apply).
            nrows = _parquet_num_rows(path)
            # value_counts MUST still record which fields the file has:
            # the v3 initial-default fill detects pre-column files by a
            # field id being ABSENT from the harvested stats — an empty
            # map would read as "every column predates nothing" and
            # rows from files older than an ADD COLUMN ... DEFAULT
            # would silently null-fill (r12 probe). The spec's
            # value_count includes nulls, so record_count per written
            # top-level field is exact.
            return DataFile(
                content=content, file_path=path, file_format="parquet",
                partition=partition or {},
                record_count=nrows,
                file_size_in_bytes=os.path.getsize(path),
                value_counts={fid: nrows for fid in field_ids.values()},
                equality_ids=equality_ids)
        raise
    meta = pf.metadata
    n_cols = meta.num_columns

    rg_chunks = []
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        chunks = []
        for i in range(n_cols):
            c = g.column(i)
            try:
                st = c.statistics
            except Exception:  # noqa: BLE001 — nested-type leaves
                st = _UNDECODABLE
            if st is _UNDECODABLE:
                nc, mm = None, _UNDECODABLE
            elif st is None:
                nc, mm = None, None
            else:
                nc = st.null_count if st.has_null_count else None
                if st.has_min_max:
                    try:  # the min/max CAST is lazy & can be unsupported
                        mm = (st.min, st.max)
                    except Exception:  # noqa: BLE001
                        mm = _UNDECODABLE
                else:
                    mm = None
            chunks.append((c.path_in_schema, c.num_values,
                           c.total_compressed_size, nc, mm))
        rg_chunks.append(chunks)

    # Top-level fields whose parquet encoding is NESTED (struct / list /
    # map / variant) never appear as a leaf path, so the chunk loop
    # can't credit their value_counts — record them group-level so the
    # v3 default-fill "field id absent ⇒ file predates the column"
    # probe stays truthful for nested columns.
    group_fids = set()
    try:
        import pyarrow.types as _pt
        for fld in pf.schema_arrow:
            if _pt.is_nested(fld.type) and fld.name in field_ids:
                group_fids.add(field_ids[fld.name])
    except Exception:  # noqa: BLE001 — schema conversion quirks
        pass

    return _reduce_chunks(rg_chunks, meta.num_rows, group_fids, path,
                          field_ids, partition, content, equality_ids,
                          nan_zero_ok, no_trunc_fids)


def _reduce_chunks(rg_chunks, num_rows: int, group_fids: set,
                   path: str, field_ids: dict[str, int],
                   partition: dict | None, content: int,
                   equality_ids: tuple[int, ...] | None,
                   nan_zero_ok: bool = False,
                   no_trunc_fids: frozenset = frozenset()) -> DataFile:
    """Shared row-group→file stats reduction. ``rg_chunks`` is one list
    per row group of ``(leaf_path, num_values, compressed_size,
    null_count|None, minmax)`` where ``minmax`` is ``None`` (no min/max
    recorded), ``_UNDECODABLE``, or a ``(min, max)`` pair of decoded
    Python values. Both the pyarrow path and the thrift footer walker
    feed this one function, so their harvested DataFiles agree on every
    stat pyarrow can decode (property-tested equal on pyarrow-written
    files in tests/test_footer_walker.py); the walker may additionally
    harvest what pyarrow's statistics API drops (INT32/INT64-backed
    decimal bounds, INT96 null counts).

    A row group whose stat can't be represented (±inf, NaN, undecodable
    bytes, failed lazy cast) — or that recorded NO min/max at all —
    poisons that column's FILE-level bound: silently falling back to
    another row group's value would record a bound that doesn't bound
    this group's rows, and prune_datafiles would then wrongly drop the
    file for e.g. ``x > 100`` when the skipped group holds +inf.
    Directional exception: min == +inf (all values inf) is safely
    skipped for the LOWER bound — any other group's lower still bounds
    it — and max == -inf symmetrically. null_counts are likewise
    all-or-nothing per column: a partial sum would understate nulls and
    let ``IS NULL`` pruning drop files that hold null rows.

    ``nan_zero_ok`` (set only for files THIS engine just wrote, after
    ``writer_nan_in_max`` probed the session's writer): a float/double
    column whose every chunk carries decodable, NaN-free min/max under
    a NaN-in-max writer provably holds zero NaNs — record
    ``nan_value_counts[fid] = 0`` so the NaN-blind pruning rule
    (predicates._nan_blind) regains ``>``/``>=`` refutation and
    ``Table.count`` regains ``<``/``<=``/``=`` full-match proofs."""
    col_sizes: dict[int, int] = {}
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    lowers: dict[int, object] = {}
    uppers: dict[int, object] = {}
    no_lower: set[int] = set()
    no_upper: set[int] = set()
    no_nulls: set[int] = set()
    float_fids: set[int] = set()   # saw a float-decoded stat
    nan_tainted: set[int] = set()  # a chunk missing stats or showing NaN
    for chunks in rg_chunks:
        for name, n_vals, compressed, nc, mm in chunks:
            fid = field_ids.get(name)
            if fid is None:
                continue
            col_sizes[fid] = col_sizes.get(fid, 0) + compressed
            value_counts[fid] = value_counts.get(fid, 0) + n_vals
            if nc is None:
                no_nulls.add(fid)
            else:
                null_counts[fid] = null_counts.get(fid, 0) + nc
            if mm is None or mm is _UNDECODABLE:
                # all-null chunks record no min/max yet hold no NaNs
                if nc is None or nc != n_vals:
                    nan_tainted.add(fid)
                no_lower.add(fid)
                no_upper.add(fid)
                continue
            raw_lo, raw_hi = mm
            if isinstance(raw_lo, float) or isinstance(raw_hi, float):
                float_fids.add(fid)
                if any(isinstance(v, float) and math.isnan(v)
                       for v in (raw_lo, raw_hi)):
                    nan_tainted.add(fid)
            try:
                lo, hi = _norm_bound(raw_lo), _norm_bound(raw_hi)
            except Exception:  # noqa: BLE001
                no_lower.add(fid)
                no_upper.add(fid)
                continue
            if lo is None:
                if not (isinstance(raw_lo, float) and raw_lo == math.inf):
                    no_lower.add(fid)
            elif fid not in lowers or lo < lowers[fid]:
                lowers[fid] = lo
            if hi is None:
                if not (isinstance(raw_hi, float) and raw_hi == -math.inf):
                    no_upper.add(fid)
            elif fid not in uppers or hi > uppers[fid]:
                uppers[fid] = hi

    # uuid-typed fields (the caller's ``no_trunc_fids``) keep their full
    # 36-char string bound: the spec's uuid bound is the exact 16-byte
    # value, and a 16-CHAR prefix would both fail the manifest writer's
    # UUID parse and be meaningless to a foreign reader (r16).
    lowers = {fid: v if fid in no_trunc_fids else _trunc_lower(v)
              for fid, v in lowers.items() if fid not in no_lower}
    uppers = {fid: u for fid, v in uppers.items()
              if fid not in no_upper
              and (u := (v if fid in no_trunc_fids
                         else _trunc_upper(v))) is not None}
    null_counts = {fid: v for fid, v in null_counts.items()
                   if fid not in no_nulls}
    for fid in group_fids:
        value_counts.setdefault(fid, num_rows)
    nan_counts = {fid: 0 for fid in float_fids - nan_tainted} \
        if nan_zero_ok else {}

    return DataFile(
        content=content, file_path=path, file_format="parquet",
        partition=partition or {}, record_count=num_rows,
        file_size_in_bytes=os.path.getsize(path),
        column_sizes=col_sizes, value_counts=value_counts,
        null_value_counts=null_counts, nan_value_counts=nan_counts,
        lower_bounds=lowers, upper_bounds=uppers,
        equality_ids=equality_ids)


def harvest_files(spark, paths_with_partitions: list[tuple[str, dict]],
                  field_ids: dict[str, int], content: int = CONTENT_DATA,
                  equality_ids: tuple[int, ...] | None = None,
                  distributed_threshold: int = 512,
                  nan_zero_ok: bool = False,
                  no_trunc_fids: frozenset = frozenset()) -> list[DataFile]:
    """Harvest many footers; distributes to executors above the threshold.
    Below it, a driver-side thread pool is faster than a Spark job —
    footer reads are I/O + C parsing and release the GIL; the job
    overhead (~1-2s) dwarfs a few hundred small footer reads."""
    items = paths_with_partitions
    if len(items) <= distributed_threshold or spark is None:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(16, max(len(items), 1))) as ex:
            return list(ex.map(
                lambda it: harvest_one(it[0], field_ids, it[1], content,
                                       equality_ids, nan_zero_ok,
                                       no_trunc_fids), items))
    sc = spark.sparkContext
    n_slices = min(len(items), 256)

    def _do(batch):
        return [harvest_one(p, field_ids, part, content, equality_ids,
                            nan_zero_ok, no_trunc_fids).to_json()
                for p, part in batch]

    jsons = sc.parallelize(items, n_slices).mapPartitions(
        lambda it: _do(list(it))).collect()
    return [DataFile.from_json(j) for j in jsons]
