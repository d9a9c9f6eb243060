"""File/source loaders with the reference's observable semantics.

Parity targets: the unified extension dispatcher (elusion.rs:282-318,
6716-6760), CSV delimiter sniffing + sampled type inference
(features/csv.rs:41-90, 168-205, 340-447), JSON promote-to-string schema
(helper_funcs/infer_schema_json.rs:30-68), folder loaders with schema
verification and the filename variant (elusion.rs:6765-7778).

Spark-first: every loader returns a *lazy* DataFrame with normalized
column names; nothing is collected to the driver except the 100-row CSV
type-inference sample (the same sample size the reference uses).

Inferred schemas of local files are remembered (``_INFERRED``, a bounded
LRU), as DataFusion's ListingTable caches per-file metadata: inference is
a Spark job per call (the parquet footer read, CSV's header + 100-row
sample, JSON's full-file scan), while a read with a known schema launches
none.  ``load_parquet``, ``load_csv`` and ``load_json`` store Spark's own
inferred ``StructType`` (for CSV the raw all-string schema plus the
per-column type vote) under a key of the loader kind, the absolute path,
the file's ``(st_size, st_mtime_ns, st_ino)``, the reader options that
change inference and the session confs that do (``_INFERENCE_CONFS``).
A rewritten file therefore misses.  Nothing is cached for paths that
cannot be ``stat``-ed (remote URIs, globs), for directories, for
TIMESTAMP(NANOS) parquet files, or for a file modified less than
``_RACY_NS`` before the lookup — git's "racy-git" rule: a same-size
rewrite within the filesystem's timestamp granularity keeps its mtime,
so only a file whose mtime is older than any such granularity is safe to
key on.  ``cache.clear_cache()`` does not touch this cache: it drops
query *results*, this holds file *metadata* that a change of the file
itself invalidates (Spark's ``catalog.clearCache()`` likewise leaves file
listings alone).
"""

from __future__ import annotations

import glob as _glob
import json as _json
import os
import re
import stat as _stat
import threading
import time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import normalize as N
from ..errors import FeatureNotAvailable, LoaderError, SchemaMismatchError
from .csv_inference import classify_column, cast_expression


def _spark(spark: SparkSession | None) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        from ..session import get_spark

        s = get_spark()
    return s


def _wrap(df: DataFrame, alias: str):
    from ..dataframe import CustomDataFrame

    return CustomDataFrame(N.normalize_columns(df), alias)


# ------------------------------------------------------- inference cache

_INFERRED: OrderedDict = OrderedDict()   # key -> inferred schema, LRU order
_INFERRED_MAX = 256
_INFERRED_LOCK = threading.Lock()
# A file modified this recently may still be rewritten within its
# filesystem's timestamp granularity (2 s on FAT) with the same size and
# mtime, so it is never keyed on.
_RACY_NS = 2_000_000_000
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _inference_key(s: SparkSession, kind: str, path: str, *options):
    """The inference-cache key of ``path``, or None when nothing may be
    cached for it (see the module docstring).  Only absolute paths are
    keyed: Spark resolves a relative one against the JVM's working
    directory, which need not be this process's."""
    if not os.path.isabs(path):
        return None
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not _stat.S_ISREG(st.st_mode) or (
            time.time_ns() - st.st_mtime_ns < _RACY_NS):
        return None
    confs = tuple(s.conf.get(k, None) for k in _INFERENCE_CONFS)
    return (kind, path, st.st_size, st.st_mtime_ns, st.st_ino, options, confs)


def _recall(key):
    if key is None:
        return None
    with _INFERRED_LOCK:
        value = _INFERRED.get(key)
        if value is not None:
            _INFERRED.move_to_end(key)
        return value


def _remember(key, value) -> None:
    if key is None:
        return
    with _INFERRED_LOCK:
        _INFERRED[key] = value
        _INFERRED.move_to_end(key)
        while len(_INFERRED) > _INFERRED_MAX:
            _INFERRED.popitem(last=False)


# ------------------------------------------------------------------ dispatch

def load(path: str, alias: str, spark: SparkSession | None = None, **options):
    """Extension-dispatch loader (elusion.rs:6716-6760): Delta dir check
    first, then by extension."""
    if os.path.isdir(path):
        if os.path.isdir(os.path.join(path, "_delta_log")):
            return load_delta(path, alias, spark)
        return load_folder(path, None, alias, spark=spark)
    ext = os.path.splitext(path)[1].lower()
    if ext == ".parquet":
        return load_parquet(path, alias, spark)
    if ext == ".csv":
        return load_csv(path, alias, spark, **options)
    if ext in (".json", ".ndjson", ".jsonl"):
        return load_json(path, alias, spark)
    if ext in (".xlsx", ".xls"):
        return load_excel(path, alias, spark)
    if ext == ".xml":
        return load_xml(path, alias, spark)
    raise LoaderError(
        f"Unsupported file extension: {ext!r} ({path})",
        "Supported: .parquet .csv .json .xlsx .xml or a Delta/table directory "
        "(elusion.rs:6716-6760).",
    )


def load_parquet(path: str, alias: str, spark: SparkSession | None = None):
    """elusion.rs:6358-6449 — native parquet read (we stay lazy: no
    MemTable collect; Catalyst gets pushdown + pruning on the scan).

    Files written with TIMESTAMP(NANOS) (which the Spark reader rejects)
    are handled by reading nanos as long and rebuilding the timestamp at
    microsecond precision — still a distributed scan, no driver detour.
    The footer is sniffed with pyarrow up front (metadata-only, driver
    side) so the common no-nanos case never pays a failed Spark job.
    A local file's schema is remembered (module docstring), so a repeat
    load of an unchanged file skips the sniff and the footer job."""
    s = _spark(spark)
    key = _inference_key(s, "parquet", path)
    cached = _recall(key)
    if cached is not None:
        return _wrap(s.read.schema(cached).parquet(path), alias)
    nano_cols: list[str] | None = None
    try:
        import pyarrow.dataset as pads

        arrow_schema = pads.dataset(path, format="parquet").schema
        nano_cols = [
            f.name for f in arrow_schema
            if str(f.type).startswith("timestamp[ns")
        ]
    except Exception:
        pass  # remote/unreadable footer — fall through to optimistic read
    if nano_cols is None:
        try:
            df = s.read.parquet(path)
            _remember(key, df.schema)  # forces the footer read: nanos fail here
            return _wrap(df, alias)
        except Exception as e:
            if "NANOS" not in str(e):
                raise
            import pyarrow.parquet as pq

            arrow_schema = pq.read_schema(path)
            nano_cols = [
                f.name for f in arrow_schema
                if str(f.type).startswith("timestamp[ns")
            ]
    if not nano_cols:
        df = s.read.parquet(path)
        _remember(key, df.schema)
        return _wrap(df, alias)
    prev = s.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = s.read.parquet(path)
        for c in nano_cols:
            df = df.withColumn(
                c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS BIGINT))")
            )
    finally:
        if prev is not None:
            s.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    return _wrap(df, alias)


# ---------------------------------------------------------------------- csv

def sniff_delimiter(path: str, candidates: str = ",;\t|", lines: int = 10) -> str:
    """Delimiter sniffing (features/csv.rs:41-90): count candidate
    occurrences over the first 10 lines; pick the candidate with a
    consistent nonzero count; ',' wins ties."""
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        sample = [f.readline() for _ in range(lines)]
    sample = [l for l in sample if l.strip()]
    best, best_score = ",", -1.0
    for cand in candidates:
        counts = [l.count(cand) for l in sample]
        if not counts or counts[0] == 0:
            continue
        consistency = sum(1 for c in counts if c == counts[0]) / len(counts)
        score = consistency * 1000 + counts[0]
        if score > best_score:
            best, best_score = cand, score
    return best


def load_csv(path: str, alias: str, spark: SparkSession | None = None,
             delimiter: str | None = None, infer: bool = True,
             schema: T.StructType | None = None):
    """CSV load with the reference's smart-typing pipeline
    (features/csv.rs:93-166): read everything as string, sample 100 rows,
    regex-vote a type per column at an 80% majority (csv.rs:340-447 —
    EU decimals, thousands separators, %, currency, multilingual booleans),
    then apply one vectorized cast/cleanup projection (csv.rs:293-317).
    The cleanup runs as built-in Spark expressions — JVM-side, codegen'd —
    so the same pass scales to a 100 TB folder of CSVs.  A local file's
    raw schema and type vote are remembered (module docstring), so a
    repeat load of an unchanged file reads with them and launches no
    job."""
    s = _spark(spark)
    sep = delimiter or sniff_delimiter(path)
    reader = (
        s.read.option("header", "true")
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
    )
    if schema is not None:
        df = reader.schema(schema).csv(path)
        return _wrap(df, alias)
    key = _inference_key(s, "csv", path, sep, infer)
    cached = _recall(key)
    if cached is not None:
        raw_schema, votes = cached
        df = N.normalize_columns(reader.schema(raw_schema).csv(path))
    else:
        raw = reader.csv(path)  # all columns arrive as string
        df = N.normalize_columns(raw)
        votes = None
        if infer:
            sample = df.limit(100).collect()  # same 100-row sample as csv.rs:168-205
            votes = {c: classify_column([row[c] for row in sample])
                     for c in df.columns}
        _remember(key, (raw.schema, votes))
    if not infer:
        return _wrap(df, alias)
    updates = {}
    for c, inferred in votes.items():
        expr = cast_expression(c, inferred)
        if expr is not None:
            updates[c] = expr
    if updates:
        df = df.withColumns(updates)
    return _wrap(df, alias)


def load_csv_with_schema(path: str, schema: T.StructType, alias: str,
                         spark: SparkSession | None = None,
                         delimiter: str | None = None):
    """Predefined-schema variant (features/with_schema.rs:90-136)."""
    return load_csv(path, alias, spark, delimiter=delimiter, infer=False,
                    schema=schema)


def load_with_schema(path: str, file_schema, alias: str,
                     spark: SparkSession | None = None):
    """Extension dispatch with a user-predefined schema
    (elusion.rs:415-452).  Accepts FileSchema / SchemaBuilder / StructType."""
    from .schema import FileSchema, SchemaBuilder

    if isinstance(file_schema, SchemaBuilder):
        file_schema = file_schema.build()
    struct = (
        file_schema.struct if isinstance(file_schema, FileSchema) else file_schema
    )
    s = _spark(spark)
    ext = os.path.splitext(path)[1].lower()
    if ext == ".csv":
        return load_csv_with_schema(path, struct, alias, spark)
    if ext in (".json", ".ndjson", ".jsonl"):
        return _wrap(s.read.schema(struct).json(path), alias)
    if ext == ".parquet":
        return _wrap(s.read.schema(struct).parquet(path), alias)
    raise LoaderError(
        f"new_with_schema: unsupported extension {ext!r}",
        "Supported with predefined schema: .csv .json .parquet "
        "(with_schema.rs:90-123).",
    )


# --------------------------------------------------------------------- json

def load_json(path: str, alias: str, spark: SparkSession | None = None):
    """JSON load (elusion.rs:6451-6604). Schema fidelity: the reference
    promotes every non-(int/float/string) value — arrays, objects — to a
    *string* (infer_schema_json.rs:50-51); we read natively then stringify
    nested fields with ``to_json`` so the observable schema matches while
    the parse itself stays distributed.  A local file's inferred schema
    is remembered (module docstring), so a repeat load of an unchanged
    file skips the inference scan."""
    s = _spark(spark)
    with open(path, "r", encoding="utf-8", errors="replace") as f:
        head = ""
        while True:
            ch = f.read(1)
            if not ch or not ch.isspace():
                head = ch
                break
    multiline = head == "["
    key = _inference_key(s, "json", path, multiline)
    cached = _recall(key)
    reader = s.read.option("multiLine", multiline)
    if cached is not None:
        df = reader.schema(cached).json(path)
    else:
        df = reader.json(path)
        _remember(key, df.schema)
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, (T.ArrayType, T.StructType, T.MapType)):
            df = df.withColumn(f_.name, F.to_json(F.col(f_.name)))
        elif isinstance(f_.dataType, T.BooleanType):
            pass  # booleans stay
    return _wrap(df, alias)


# -------------------------------------------------------------------- delta

def load_delta(path: str, alias: str, spark: SparkSession | None = None):
    """elusion.rs:6607-6710. The reference disables parquet pruning for
    Delta scans; we deliberately do NOT replicate that (SURVEY §4) — Spark
    prunes partitions and pushes filters. Requires delta-spark; without it
    we fall back to reading the current snapshot's parquet files from the
    transaction log."""
    s = _spark(spark)
    try:
        return _wrap(s.read.format("delta").load(path), alias)
    except Exception:
        pass
    # Fallback: parse the delta log for the active file set (public layout).
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise LoaderError(
            f"Not a Delta table: {path}",
            "No _delta_log directory found (elusion.rs:6607-6710).",
        )
    # Real tables checkpoint every ~10 commits and VACUUM/expire old JSON
    # logs, so a JSON-only replay would silently miss files.  Protocol:
    # _last_checkpoint names a version N whose parquet checkpoint holds
    # the full reconciled state; only JSON logs > N need replaying.
    active: dict[str, bool] = {}
    ckpt_version = -1
    last_ckpt = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(last_ckpt):
        with open(last_ckpt) as f:
            meta = _json.loads(f.read() or "{}")
        ckpt_version = int(meta.get("version", -1))
        parts = sorted(_glob.glob(os.path.join(
            log_dir, f"{ckpt_version:020d}.checkpoint*.parquet")))
        if parts:
            import pyarrow.parquet as _pq

            for part in parts:  # metadata-only, driver-side read
                t = _pq.read_table(part, columns=["add"])
                for add in t.column("add").to_pylist():
                    if add and add.get("path"):
                        active[add["path"]] = True
        else:
            ckpt_version = -1  # stale pointer — fall back to full replay
    for logfile in sorted(_glob.glob(os.path.join(log_dir, "*.json"))):
        version_str = os.path.basename(logfile).split(".")[0]
        if version_str.isdigit() and int(version_str) <= ckpt_version:
            continue
        with open(logfile) as f:
            for line in f:
                try:
                    action = _json.loads(line)
                except _json.JSONDecodeError:
                    continue
                if "add" in action:
                    active[action["add"]["path"]] = True
                elif "remove" in action:
                    active.pop(action["remove"]["path"], None)
    files = [os.path.join(path, p) for p in active]
    if not files:
        raise LoaderError(f"Delta table {path} has no active files")
    # basePath keeps hive-style partition columns (key=val dirs) in the schema
    return _wrap(s.read.option("basePath", path).parquet(*files), alias)


# -------------------------------------------------------------------- excel

def load_excel(path: str, alias: str, spark: SparkSession | None = None,
               sheet: str | int = 0):
    """features/excel.rs:385-645 — no Spark-native reader.  openpyxl/pandas
    when importable; otherwise the stdlib SpreadsheetML codec
    (sources/xlsx_lite.py — the reference's calamine is likewise a
    self-contained xlsx parser).  Both paths apply the reference's header
    sanitation.  Driver-sided by nature (Excel caps at ~1M rows)."""
    s = _spark(spark)
    try:
        import openpyxl  # noqa: F401  — preferred engine when present
        import pandas as pd

        pdf = pd.read_excel(path, sheet_name=sheet)
        headers = [str(c) for c in pdf.columns]
        cols = _dedup_headers([
            N.normalize_column_name(_sanitize_excel_header(h, i))
            for i, h in enumerate(headers)
        ])
        pdf.columns = cols
        return _wrap(s.createDataFrame(pdf), alias)
    except ImportError:
        from . import xlsx_lite

        rows = xlsx_lite.read_xlsx(path, sheet=sheet)
        if not rows:
            raise ValueError(f"empty sheet in {path}")
        headers = ["" if h is None else str(h) for h in rows[0]]
        cols = _dedup_headers([
            N.normalize_column_name(_sanitize_excel_header(h, i))
            for i, h in enumerate(headers)
        ])
        data = [tuple(r) for r in rows[1:]]
        if not data:
            from pyspark.sql import types as T

            return _wrap(s.createDataFrame(
                [], T.StructType([T.StructField(c, T.StringType())
                                  for c in cols])), alias)
        return _wrap(s.createDataFrame(data, cols), alias)


def _sanitize_excel_header(header: str, column_index: int) -> str:
    """excel.rs:449-467 header sanitation: trim; empty cells become
    ``Column_{index}``; spaces and non-alphanumerics become ``_``; a
    non-alphabetic first character gets a ``col_`` prefix (the generic
    lowercase normalization runs after, as the reference does at table
    load — elusion.rs:6724)."""
    import re as _re

    h = header.strip()
    if not h:
        return f"Column_{column_index}"
    s = _re.sub(r"[^0-9A-Za-z_]", "_", h.replace(" ", "_"))
    if not s or not s[0].isalpha():
        return f"col_{s}"
    return s


def _dedup_headers(cols: list[str]) -> list[str]:
    """Header dedup (excel.rs:468-485): each repeat counts up from its
    base name but SKIPS names already taken — ``a, a_1, a`` yields
    ``a, a_1, a_2``, never a second ``a_1`` (the reference's
    while-insert loop has the same collision-aware semantics)."""
    seen: set[str] = set()
    out = []
    for c in cols:
        unique, counter = c, 1
        while unique in seen:
            unique = f"{c}_{counter}"
            counter += 1
        seen.add(unique)
        out.append(unique)
    return out


# ---------------------------------------------------------------------- xml

def load_xml(path: str, alias: str, spark: SparkSession | None = None,
             row_tag: str | None = None, mode: str = "auto",
             infer_types: bool = True):
    """features/xml.rs:182-1860: Standard mode (rows = repeated elements,
    child elements/attributes become columns) plus the reference's
    multi-element combination strategies with its auto-detection rule
    (xml.rs:1808-1860): a parent whose children include ≥2 DIFFERENT
    repeated element types triggers multi-element processing, where the
    strategy follows the reference heuristic (xml.rs:507-519) —
    ≥3 groups → ParallelArrays (zip by index, short groups padded),
    all groups ≤3 members → CartesianProduct, otherwise HeaderDetail
    (one row per member of the first/primary group).  ``mode`` forces
    one of 'standard' | 'cartesian' | 'parallel' | 'header_detail'.

    Column types are inferred per the reference rule (xml.rs:1560-1650):
    all non-empty values parse as i64 → BIGINT, any float → DOUBLE,
    anything non-numeric → STRING; empty cells are NULL.

    Parsing happens driver-side (stdlib etree) — acceptable for the
    config-file sizes this loader targets; big XML should convert to
    parquet first."""
    import xml.etree.ElementTree as ET
    from collections import Counter

    s = _spark(spark)
    tree = ET.parse(path)
    root = tree.getroot()

    if mode == "auto" and row_tag is None:
        mode = _detect_xml_mode(root)
    if mode in ("cartesian", "parallel", "header_detail", "multi"):
        forced = None if mode == "multi" else mode
        rows = _xml_multi_rows(root, forced)
    else:
        if row_tag is None:
            counts = Counter(child.tag for child in root)
            if not counts:
                raise LoaderError(f"XML file {path} has no row elements")
            row_tag = counts.most_common(1)[0][0]
        rows = []
        for el in root.iter(row_tag):
            rec: dict[str, str] = {}
            for k, v in el.attrib.items():
                rec[N.normalize_column_name(k)] = v
            for child in el:
                txt = (child.text or "").strip()
                rec[N.normalize_column_name(child.tag)] = txt
            if rec:
                rows.append(rec)
    if not rows:
        raise LoaderError(f"No rows found in {path}")
    cols = sorted({k for r in rows for k in r})
    types = {c: (_infer_xml_column_type([r.get(c) for r in rows])
                 if infer_types else T.StringType()) for c in cols}
    data = [
        tuple(_xml_cast(r.get(c), types[c]) for c in cols) for r in rows
    ]
    schema = T.StructType([T.StructField(c, types[c]) for c in cols])
    return _wrap(s.createDataFrame(data, schema), alias)


def _infer_xml_column_type(values: list) -> "T.DataType":
    """xml.rs:1560-1611 per-column vote: every non-empty value i64 →
    BIGINT; numeric with any float → DOUBLE; else (or all-empty) STRING."""
    has_int = has_float = False
    non_empty = 0
    for v in values:
        if v is None or str(v).strip() == "":
            continue
        non_empty += 1
        t = str(v).strip()
        try:
            int(t)
            has_int = True
            continue
        except ValueError:
            pass
        try:
            float(t)
            has_float = True
            continue
        except ValueError:
            return T.StringType()
    if non_empty == 0:
        return T.StringType()
    return T.DoubleType() if has_float else (
        T.LongType() if has_int else T.StringType())


def _xml_cast(v, dtype):
    if v is None or str(v).strip() == "":
        return None
    if isinstance(dtype, T.LongType):
        return int(str(v).strip())
    if isinstance(dtype, T.DoubleType):
        return float(str(v).strip())
    return v


def _repeated_child_tags(el) -> list[str]:
    from collections import Counter

    counts = Counter(child.tag for child in el)
    return [t for t, n in counts.items() if n > 1]


def _detect_xml_mode(root) -> str:
    """xml.rs:1808-1860 decision rule: one parent element type whose
    instances contain ≥2 distinct repeated child types → multi-element
    processing (strategy then chosen per parent by the xml.rs:507-519
    heuristic); otherwise 'standard'."""
    for parent in root.iter():
        if len(_repeated_child_tags(parent)) >= 2:
            return "multi"
    return "standard"


def _xml_group_members(parent, g: str) -> list[dict]:
    """Field map per member of one repeated child group: attributes and
    sub-elements prefixed with the group tag; leaf text under the bare
    tag name."""
    members = []
    for el in parent.findall(g):
        rec: dict[str, str] = {}
        for k, v in el.attrib.items():
            rec[N.normalize_column_name(f"{g}_{k}")] = v
        if len(el) == 0:
            rec[N.normalize_column_name(g)] = (el.text or "").strip()
        for sub in el:
            rec[N.normalize_column_name(f"{g}_{sub.tag}")] = (
                sub.text or ""
            ).strip()
        members.append(rec)
    return members


def _xml_combination_strategy(group_rows: list[list[dict]]) -> str:
    """xml.rs:507-519 heuristic: ≥3 element types → parallel arrays (no
    row explosion), all groups small (≤3 members) → cartesian product,
    otherwise header-detail."""
    if len(group_rows) >= 3:
        return "parallel"
    if all(len(members) <= 3 for members in group_rows):
        return "cartesian"
    return "header_detail"


def _xml_multi_rows(root, strategy: str | None = None) -> list[dict]:
    """Multi-element extraction (xml.rs:665-790): for each parent with
    ≥2 distinct repeated child groups, combine the groups per the
    selected strategy; scalar children + attributes of the parent repeat
    onto every row (header fields).  Columns are ``{group}_{field}`` for
    group members, plain names for header fields.

    - cartesian: cross product of the groups' members
    - parallel: zip groups by index, shorter groups padded with NULLs
    - header_detail: one row per member of the FIRST (primary) group
    """
    import itertools

    rows: list[dict] = []
    for parent in root.iter():
        groups = _repeated_child_tags(parent)
        if len(groups) < 2:
            continue
        header: dict[str, str] = {}
        for k, v in parent.attrib.items():
            header[N.normalize_column_name(k)] = v
        for child in parent:
            if child.tag not in groups and len(child) == 0:
                header[N.normalize_column_name(child.tag)] = (child.text or "").strip()
        group_rows = [_xml_group_members(parent, g) for g in groups]
        strat = strategy or _xml_combination_strategy(group_rows)
        if strat == "cartesian":
            for combo in itertools.product(*group_rows):
                out = dict(header)
                for rec in combo:
                    out.update(rec)
                rows.append(out)
        elif strat == "parallel":
            max_len = max((len(m) for m in group_rows), default=0)
            for i in range(max(max_len, 1)):
                out = dict(header)
                for members in group_rows:
                    if i < len(members):
                        out.update(members[i])
                rows.append(out)
        else:  # header_detail: primary group carries the rows
            for rec in group_rows[0]:
                out = dict(header)
                out.update(rec)
                rows.append(out)
    return rows


# ------------------------------------------------------------------- folder

def load_folder(directory: str, extensions: list[str] | None, alias: str,
                spark: SparkSession | None = None,
                add_filename_column: bool = False):
    """elusion.rs:6765-7267 (+filename variant 7269-7778): load every
    matching file, verify schema compatibility, combine.

    Scale design: same-format files go through ONE multi-path reader call
    (a single distributed scan — Spark parallelizes by file block, no
    per-file loop), `unionByName` only bridges across formats.  The
    filename column is `input_file_name()` evaluated executor-side, not
    the reference's literal-per-file rewrite."""
    s = _spark(spark)
    exts = [e.lower().lstrip(".") for e in (extensions or ["csv", "json", "parquet"])]
    groups: dict[str, list[str]] = {}
    for f in sorted(os.listdir(directory)):
        full = os.path.join(directory, f)
        ext = os.path.splitext(f)[1].lower().lstrip(".")
        # spark-written datasets are directories named *.parquet/*.csv —
        # accept both plain files and those dataset dirs
        if ext in exts and (os.path.isfile(full) or os.path.isdir(full)):
            groups.setdefault(ext, []).append(full)
    if not groups:
        raise LoaderError(
            f"No files with extensions {exts} in {directory}",
            "Check the extensions filter (elusion.rs:6765-7267).",
        )
    parts: list[DataFrame] = []
    for ext, files in groups.items():
        if ext == "parquet":
            # per-file schema verification (elusion.rs:6765-7267) via
            # pyarrow footer reads — metadata only, no data scan
            import pyarrow.dataset as pads

            schemas = [
                (f, set(pads.dataset(f, format="parquet").schema.names))
                for f in files
            ]
            first_names = schemas[0][1]
            for fname, names in schemas[1:]:
                if names != first_names:
                    raise SchemaMismatchError(
                        f"Folder file {os.path.basename(fname)} has columns "
                        f"{sorted(names)}, expected {sorted(first_names)}",
                        "All files in the folder must share column names "
                        "(elusion.rs:6765-7267 schema verification).",
                    )
            d = s.read.parquet(*files)
        elif ext == "csv":
            d = (
                s.read.option("header", "true")
                .option("inferSchema", "true")
                .csv(files)
            )
        elif ext == "xml":
            # driver-side parse per file (same engine as load_xml); the
            # reference's folder loader supports XML the same way
            subparts = []
            for fname in files:
                sub = load_xml(fname, f"__folder_xml_{len(subparts)}", s).df
                if add_filename_column:
                    sub = sub.withColumn(
                        "filename_added", F.lit(os.path.basename(fname)))
                subparts.append(sub)
            d = subparts[0]
            for sub in subparts[1:]:
                d = d.unionByName(sub, allowMissingColumns=False)
            parts.append(d)
            continue  # filename column already attached per file
        elif ext in ("xlsx", "xls"):
            subparts = []
            for fname in files:
                sub = load_excel(fname, f"__folder_xlsx_{len(subparts)}", s).df
                if add_filename_column:
                    sub = sub.withColumn(
                        "filename_added", F.lit(os.path.basename(fname)))
                subparts.append(sub)
            d = subparts[0]
            for sub in subparts[1:]:
                d = d.unionByName(sub, allowMissingColumns=False)
            parts.append(d)
            continue
        else:
            d = s.read.json(files)
        d = N.normalize_columns(d)
        if add_filename_column:
            d = d.withColumn(
                "filename_added",
                F.element_at(F.split(F.input_file_name(), "/"), -1),
            )
        parts.append(d)
    first = parts[0]
    for p in parts[1:]:
        if set(p.columns) != set(first.columns):
            raise SchemaMismatchError(
                f"Folder files have incompatible schemas: {sorted(first.columns)} "
                f"vs {sorted(p.columns)}",
                "All files in the folder must share column names "
                "(elusion.rs:6765-7267 schema verification).",
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=False)
    return _wrap(out, alias)


# ------------------------------------------------------------------ raw sql

def execute_raw_sql(sql: str, alias: str, dfs: dict[str, object] | None = None,
                    spark: SparkSession | None = None):
    """The ``sql!`` macro (features/raw_sql.rs:4-88): register each frame
    under its alias, run raw SQL, wrap the result."""
    from ..dataframe import CustomDataFrame

    s = _spark(spark)
    for name, d in (dfs or {}).items():
        sdf = d.df if isinstance(d, CustomDataFrame) else d
        sdf.createOrReplaceTempView(name)
    return CustomDataFrame(s.sql(sql), alias)
