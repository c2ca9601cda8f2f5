"""BDE ``.crs`` file source: self-describing header -> StructType,
pipe-delimited data -> DataFrame, plus the bde_copy cleanse stage.

Format (reference fixtures /root/reference/t/data/pab1.crs:1-19,
xaud.crs, utf8.crs; written inline at
/root/reference/t/linz_bde_uploader.t:1464-1481):

    HEDR     2.0.0
    SOFTWARE ...
    SCHEMA   ...
    USER     ...
    START    2016-06-01 17:12:25
    END      2016-06-01 17:12:25
    SQL      SELECT * FROM crs_parcel_bndry
    TABLE    crs_parcel_bndry
    COLUMN   pri_id    integer NULL
    COLUMN   audit_id  integer NOT NULL
    DESC
    SIZE     562
    {CRS-DATA}
    4457328|1|29694591|Y|80401148|

Data rows are pipe-delimited with a TRAILING pipe; empty field = NULL
(COPY ``NULL AS ''``, lib/LINZ/BdeDatabase.pm:542). Header lines never
end with '|', so the distributed read filters on that instead of
pulling data to the driver. ``.crs.gz`` reads transparently (Spark
handles gzip; reference uses IO::Zlib, README.md:25).

Cleansing re-expresses the bde_copy C++ cleanser's semantics
(conf/linz_bde_uploader.conf:349-1245): character replacement map,
date floor to a sentinel, WKT SRID prefix + longitude offset, and a
malformed-row error budget.
"""

from __future__ import annotations

import gzip
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Header type name -> Spark type
# (types observed across reference fixtures + tables.conf overrides;
#  SURVEY.md §1.2)
_TYPE_MAP = {
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "smallint": T.IntegerType(),
    "char": T.StringType(),
    "varchar": T.StringType(),
    "text": T.StringType(),
    "datetime": T.TimestampNTZType(),
    "date": T.DateType(),
    "decimal": T.DecimalType(24, 10),
    "numeric": T.DecimalType(24, 10),
    "number": T.DecimalType(24, 10),
    "double": T.DoubleType(),
    "float": T.DoubleType(),
    "serial": T.IntegerType(),
    "geometry": T.StringType(),  # WKT stays text (SURVEY.md §1.2)
}

_GEOM_TYPES = {"geometry"}


@dataclass
class CrsColumn:
    name: str
    type_name: str
    nullable: bool

    @property
    def spark_type(self) -> T.DataType:
        base = self.type_name.lower().split("(")[0]
        return _TYPE_MAP.get(base, T.StringType())


@dataclass
class CrsHeader:
    table: str
    columns: list[CrsColumn]
    start_time: str | None = None
    end_time: str | None = None
    size: int | None = None
    n_header_lines: int = 0

    @property
    def field_names(self) -> list[str]:
        return [c.name for c in self.columns]

    def schema(self, subset: list[str] | None = None) -> T.StructType:
        cols = self.columns
        if subset is not None:
            wanted = {c.lower() for c in subset}
            cols = [c for c in cols if c.name.lower() in wanted]
        return T.StructType([T.StructField(c.name, c.spark_type, True) for c in cols])


_COLUMN_RE = re.compile(r"^COLUMN\s+(\S+)\s+(\S+)\s+(NULL|NOT NULL)\s*$")


def parse_header(path: str) -> CrsHeader:
    """S4: driver-side parse of the head of a .crs[.gz] file up to the
    ``{CRS-DATA}`` marker (call sites lib/LINZ/BdeUpload.pm:1020-1037)."""
    opener = gzip.open if path.endswith(".gz") else open
    table = None
    columns: list[CrsColumn] = []
    start = end = None
    size = None
    n = 0
    with opener(path, "rb") as raw:
        fh = io.TextIOWrapper(raw, encoding="utf-8", errors="replace")
        for line in fh:
            n += 1
            line = line.rstrip("\n").rstrip("\r")
            if line.strip() == "{CRS-DATA}":
                break
            stripped = re.sub(r"\s+", " ", line).strip()
            if stripped.startswith("TABLE "):
                table = stripped.split(" ", 1)[1].strip()
            elif stripped.startswith("START "):
                start = stripped.split(" ", 1)[1].strip()
            elif stripped.startswith("END "):
                end = stripped.split(" ", 1)[1].strip()
            elif stripped.startswith("SIZE "):
                try:
                    size = int(stripped.split(" ", 1)[1].strip())
                except ValueError:
                    size = None
            else:
                m = _COLUMN_RE.match(stripped)
                if m:
                    columns.append(CrsColumn(m.group(1), m.group(2), m.group(3) == "NULL"))
            if n > 10000:
                raise ValueError(f"{path}: no {{CRS-DATA}} marker in first 10000 lines")
    if table is None or not columns:
        raise ValueError(f"{path}: invalid .crs header (table={table}, {len(columns)} columns)")
    return CrsHeader(table=table, columns=columns, start_time=start, end_time=end,
                     size=size, n_header_lines=n)


@dataclass
class CleanseConfig:
    """Subset of the bde_copy configuration the reference ships
    (conf/linz_bde_uploader.conf:349-1245)."""

    minimum_year: int = 0
    invalid_datetime: str = "1800-01-01 00:00:00"
    invalid_date: str = "1800-01-01"
    wkt_prefix: str = "SRID=4167;"
    longitude_offset: float = 160.0
    # replace map: char -> replacement ('' = delete). Defaults mirror
    # conf/linz_bde_uploader.conf replace rules (| and \ -> space,
    # newline/CR -> literal \n \r).
    char_map: dict[str, str] = field(default_factory=lambda: {
        "|": " ", "\\": " ", "\n": "\\n", "\r": "\\r",
    })
    max_errors: int = 0  # conf/linz_bde_uploader.conf:376
    # utf8_encoding enforced: non-ASCII chars the map doesn't allow
    # become utf8_unmapped (conf/linz_bde_uploader.conf:406-410)
    utf8_enforced: bool = False
    utf8_unmapped: str = "?"

    @classmethod
    def from_conf_block(cls, text: str) -> "CleanseConfig":
        """Parse a ``bde_copy_configuration`` block (the reference's
        heredoc format)."""
        cfg = cls(char_map={})

        def unescape(tok: str) -> str:
            out, i = [], 0
            while i < len(tok):
                if tok[i] == "\\" and i + 1 < len(tok):
                    esc = tok[i + 1]
                    if esc == "x":
                        hexpart = tok[i + 2:i + 4]
                        try:
                            out.append(chr(int(hexpart, 16)))
                            i += 4
                            continue
                        except ValueError:
                            pass
                    if esc == "u":  # \uHHHH (UTF-8 mapping section)
                        hexpart = tok[i + 2:i + 6]
                        try:
                            out.append(chr(int(hexpart, 16)))
                            i += 6
                            continue
                        except ValueError:
                            pass
                    out.append(esc)
                    i += 2
                    continue
                out.append(tok[i])
                i += 1
            return "".join(out)

        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split(None, 2)
            kw = parts[0]
            if kw == "minimum_year" and len(parts) > 1:
                cfg.minimum_year = int(parts[1])
            elif kw == "invalid_datetime_string" and len(parts) > 1:
                cfg.invalid_datetime = line.split(None, 1)[1]
            elif kw == "invalid_date_string" and len(parts) > 1:
                cfg.invalid_date = line.split(None, 1)[1]
            elif kw == "wkt_prefix" and len(parts) > 1:
                cfg.wkt_prefix = parts[1]
            elif kw == "longitude_offset" and len(parts) > 1:
                cfg.longitude_offset = float(parts[1])
            elif kw == "replace" and len(parts) >= 2:
                src = unescape(parts[1])
                # remainder = one replacement token, optionally followed
                # by a log message ("replace \x01 delete Removing ...")
                dst_tok = parts[2].split()[0] if len(parts) > 2 else ""
                dst = "" if dst_tok.lower() in ("delete", "none") \
                    else unescape(dst_tok)
                cfg.char_map[src] = dst
            elif kw == "max_errors" and len(parts) > 1:
                cfg.max_errors = int(parts[1])
            elif kw == "utf8_encoding" and len(parts) > 1:
                cfg.utf8_enforced = parts[1].lower() == "enforced"
            elif kw == "utf8_replace_unmapped" and len(parts) > 1:
                tok = parts[1]
                cfg.utf8_unmapped = "" if tok.lower() == "delete" else unescape(tok)
        return cfg


def _normalize_date_string(s: str) -> str:
    """Accept both ISO and the reference conf's dd/MM/yyyy
    (invalid_date_string 01/01/1800) sentinel spellings."""
    m = re.fullmatch(r"(\d{2})/(\d{2})/(\d{4})", s.strip())
    if m:
        return f"{m.group(3)}-{m.group(2)}-{m.group(1)}"
    return s.strip()


class CrsReadError(RuntimeError):
    """Raised when malformed rows exceed the configured error budget
    (bde_copy ``max_errors``/``column_count error`` semantics)."""


def read_crs(spark: SparkSession, path: str, header: CrsHeader | None = None,
             valid_columns: list[str] | None = None,
             cleanse: CleanseConfig | None = None,
             enforce_budget: bool = True) -> DataFrame:
    """S5: distributed read of a .crs[.gz] file.

    Plan shape: ``spark.read.text`` -> filter (data rows end with '|')
    -> split -> per-column cast, all whole-stage-codegen column
    expressions. With ``enforce_budget`` the malformed-row check on a
    SPLITTABLE (plain-text) file is a separate counting pass over the
    parallel scan (at the production budget of 0 it short-circuits at
    the first bad row via take(1)); the main projection then re-scans —
    the same two passes the reference makes (bde_copy cleanses to a
    temp file, COPY re-reads it). A ``.gz`` file decompresses ONCE:
    the repartitioned lines are persisted, the budget count fills the
    cache, and the projection reads from it (see the inline comment;
    release via ``dedup.release_caches()`` in long-lived sessions).
    ``valid_columns`` applies P1 column intersection (projection
    happens before casting, so pruned columns cost nothing).
    """
    header = header or parse_header(path)
    lines = spark.read.text(path)
    # normalize CRLF: header parsing strips \r, data rows must too or
    # every line of a CRLF file would fail the trailing-pipe filter
    value = F.regexp_replace(F.col("value"), r"\r$", "")
    # Data rows carry a trailing '|'; header lines never do.
    rows = lines.select(value.alias("value")) \
                .filter(F.col("value").endswith("|"))

    ncols = len(header.columns)
    parts = F.split(F.col("value"), r"\|", -1)
    # trailing '|' => len == ncols + 1 with empty last element
    ok = F.size(parts) == ncols + 1

    def split_rows(df: DataFrame) -> DataFrame:
        return df.select(parts.alias("_p"), ok.alias("_ok"))

    is_gz = path.endswith(".gz")
    if is_gz:
        # gzip is not splittable, so the text scan is ONE task no
        # matter how big the file — and without intervention every
        # narrow transformation downstream (split, casts, the
        # ~300-rule cleanse: the expensive part) inherits that single
        # partition. Decompression is inherently serial; the parse is
        # not. Redistribute the raw lines across the session's
        # parallelism before parsing — one shuffle of the raw text
        # buys a fully parallel cleanse. Row order is irrelevant: the
        # loader's semantics are set-based over keyed rows (the
        # reference COPYes into a keyed table). Measured at 3.6M rows
        # (SCALE_SOAK.json etl_soak f30 l0_gz_sec): serial-parse
        # 172 s -> ~90 s with this repartition (42 s plain).
        rows = rows.repartition(spark.sparkContext.defaultParallelism)
        if enforce_budget:
            # single-pass gz (r16 verdict): the budget check used to
            # run a separate pass over the raw scan, so a CLEAN file
            # — the common case — was serially decompressed TWICE
            # (check + parse), doubling the serial component the
            # repartition above just parallelized away. Persist the
            # repartitioned lines instead: the budget count fills the
            # cache (one decompress), the projection below reads from
            # it (zero more). The trade is losing limit(1) fail-fast
            # on a corrupt file at budget 0 — the rare case, and one
            # where decompress cost was already sunk on average half
            # the stream — matching the reference's one streaming
            # bde_copy pass (lib/LINZ/BdeUpload.pm:1146-1201). The
            # persist is registered in the engine's tracked-cache
            # registry; long-lived sessions release it with
            # ``dedup.release_caches()`` like every other tracked
            # relation (one string row per data line, spills to disk).
            from pyspark import StorageLevel

            from linz_bde_uploader_spark.operators.dedup import _track

            rows = _track(rows.persist(StorageLevel.MEMORY_AND_DISK))

    if enforce_budget:
        budget = (cleanse.max_errors if cleanse else 0)
        bad_rows = split_rows(rows).filter(~F.col("_ok"))
        if budget == 0 and not is_gz:
            # splittable scan: any bad row is fatal, stop at the
            # first. take(1) scans partitions in growing rounds and
            # stops at the first bad row: one job for a one-split
            # file (a limit(1).count() runs two). Re-reading is cheap
            # because the plain text scan is parallel, unlike gz above
            bad = len(bad_rows.take(1))
        else:
            bad = bad_rows.count()
        if bad > budget:
            sample = [r["_p"] for r in bad_rows.limit(16).collect()]
            count = "at least one" if budget == 0 and not is_gz else str(bad)
            if is_gz:
                # the raise abandons the gz line cache unconsumed —
                # free it NOW, or a session that validates many files
                # and catches CrsReadError leaks one full cached copy
                # per rejected file until the next release_caches()
                from linz_bde_uploader_spark.operators.dedup import untrack

                untrack(rows)
            raise CrsReadError(
                f"{path}: {count} malformed row(s) exceed "
                f"max_errors={budget}; sample={sample[:3]!r}"
            )
    data = split_rows(rows)

    cols = header.columns
    if valid_columns is not None:
        wanted = {c.lower() for c in valid_columns}
        keep = [(i, c) for i, c in enumerate(cols) if c.name.lower() in wanted]
    else:
        keep = list(enumerate(cols))

    exprs = []
    for i, c in keep:
        raw = F.element_at(F.col("_p"), i + 1)
        val = F.when(raw == "", F.lit(None)).otherwise(raw)  # empty = NULL
        exprs.append(_cast_and_cleanse(val, c, cleanse).alias(c.name))
    return data.filter(F.col("_ok")).select(*exprs)


def _cast_and_cleanse(col, c: CrsColumn, cleanse: CleanseConfig | None):
    t = c.spark_type
    base = c.type_name.lower().split("(")[0]
    if cleanse is None:
        cleanse = CleanseConfig()
    if isinstance(t, T.StringType):
        if base in _GEOM_TYPES:
            return cleanse_wkt(col, cleanse)
        return cleanse_text(col, cleanse)
    if isinstance(t, (T.TimestampNTZType, T.TimestampType)):
        ts = F.to_timestamp_ntz(col, F.lit("yyyy-MM-dd HH:mm:ss"))
        if cleanse.minimum_year > 0:
            ts = F.when(
                F.year(ts) < cleanse.minimum_year,
                F.to_timestamp_ntz(F.lit(cleanse.invalid_datetime),
                                   F.lit("yyyy-MM-dd HH:mm:ss")),
            ).otherwise(ts)
        return ts
    if isinstance(t, T.DateType):
        d = F.coalesce(F.try_to_timestamp(col, F.lit("yyyy-MM-dd")),
                       F.try_to_timestamp(col, F.lit("dd/MM/yyyy"))).cast("date")
        if cleanse.minimum_year > 0:
            sentinel = _normalize_date_string(cleanse.invalid_date)
            d = F.when(F.year(d) < cleanse.minimum_year,
                       F.lit(sentinel).cast("date")).otherwise(d)
        return d
    return col.cast(t)


def cleanse_text(col, cleanse: CleanseConfig):
    """bde_copy character mapping + UTF-8 enforcement, as JVM-side
    expressions (no Python UDF).

    The production map (conf/linz_bde_uploader.conf:416-1244) holds
    ~300 rules; chaining one regexp_replace per rule would nest 300
    expressions. Instead: identity rules vanish, every 1:1 replacement
    or deletion folds into ONE ``translate`` call, and only
    multi-character replacements (newline -> literal "\\n") need a
    regexp each. With ``utf8_encoding enforced``, non-ASCII characters
    the map doesn't allow become ``utf8_replace_unmapped`` (reference
    default '?')."""
    kept_src, kept_dst, del_src, rx_rules, allowed = [], [], [], [], set()
    for src, dst in cleanse.char_map.items():
        allowed.update(ch for ch in dst if ord(ch) > 127)
        if len(src) == 1 and src == dst:
            allowed.add(src)
            continue  # identity: keep as-is
        if len(src) == 1 and len(dst) == 1:
            kept_src.append(src)
            kept_dst.append(dst)
        elif len(src) == 1 and dst == "":
            del_src.append(src)  # translate deletes unpaired chars
        else:
            rx_rules.append((src, dst))
    # bde_copy maps each INPUT character once (single pass — rule
    # outputs are never re-scanned). translate-then-regexp preserves
    # that as long as no translate output is itself a regexp source;
    # on collision fall back to a single-pass per-character map.
    if set(kept_dst) & {s for s, _ in rx_rules}:
        return _single_pass_map_udf(cleanse)(col)
    out = col
    # translate pairs positionally; unpaired trailing chars are deleted
    if kept_src or del_src:
        out = F.translate(out, "".join(kept_src + del_src), "".join(kept_dst))
    for src, dst in rx_rules:
        out = F.regexp_replace(out, re.escape(src), dst.replace("\\", "\\\\"))
    # delete remaining C0 control characters (utf8_replace_invalid delete)
    out = F.regexp_replace(out, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    if cleanse.utf8_enforced:
        keep_class = "".join(re.escape(c) for c in sorted(allowed))
        out = F.regexp_replace(out, f"[^\\x00-\\x7F{keep_class}]",
                               cleanse.utf8_unmapped)
    return out


def _single_pass_map_udf(cleanse: CleanseConfig):
    """Exact single-pass character mapping (Arrow-batched) for the rare
    map where a rule's output collides with another rule's input —
    composed JVM expressions would re-scan outputs there."""
    cmap = dict(cleanse.char_map)

    def one(text):
        if text is None:
            return None
        return "".join(cmap.get(ch, ch) for ch in text)

    return F.udf(one, "string", useArrow=True)


def cleanse_wkt(col, cleanse: CleanseConfig):
    """bde_copy spatial fixup: strip leading digits/spaces, prepend
    ``wkt_prefix``. The longitude offset (+160.0 on every longitude)
    requires numeric edits inside the WKT text -> Arrow-batched Pandas
    UDF (slow path, geometry columns only)."""
    stripped = F.regexp_replace(col, r"^[0-9 ]+", "")
    prefixed = F.concat(F.lit(cleanse.wkt_prefix), stripped)
    if not cleanse.longitude_offset:
        return prefixed
    return _wkt_offset_udf(cleanse.longitude_offset)(prefixed)


def _wkt_offset_udf(offset: float):
    from pyspark.sql.functions import pandas_udf

    coord_pair = re.compile(r"(-?\d+(?:\.\d+)?)(\s+)(-?\d+(?:\.\d+)?)")

    def shift(s):
        def fix(text):
            if text is None:
                return None

            off_dec = len(str(offset).split(".", 1)[1].rstrip("0")) \
                if "." in str(offset) else 0

            def repl(m):
                tok = m.group(1)
                # preserve full precision: at least the source token's
                # decimals (a %g format would clip to 6 significant
                # digits, ~30 m of error) AND the offset's own
                # decimals (an integer source must not truncate a
                # fractional offset)
                dec = max(len(tok.split(".", 1)[1]) if "." in tok else 0,
                          off_dec)
                lon = float(tok) + offset
                return f"{lon:.{dec}f}{m.group(2)}{m.group(3)}"

            head, sep, body = text.partition(";")
            if not sep:
                return coord_pair.sub(repl, text)
            return head + sep + coord_pair.sub(repl, body)

        return s.map(fix)

    return pandas_udf(shift, T.StringType())
