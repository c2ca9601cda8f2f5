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
import hashlib
import io
import re
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linz_bde_uploader_spark.cache import persist, release
from linz_bde_uploader_spark.functions.sqltext import ident, literal

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


def _malformed(path: str, bad_rows: DataFrame, budget: int,
               count: str) -> CrsReadError:
    """The error for a file whose malformed rows exceed ``budget``,
    with a sample of ``bad_rows`` (a job run on this failure path
    only)."""
    sample = [r["_p"] for r in bad_rows.limit(16).collect()]
    return CrsReadError(f"{path}: {count} malformed row(s) exceed "
                        f"max_errors={budget}; sample={sample[:3]!r}")


class RowCheck:
    """``read_crs``' malformed-row check of one file, deferred to the
    Spark action that consumes the read. bde_copy counts a file's
    columns in the same streaming pass that loads it
    (lib/LINZ/BdeUpload.pm:1146-1201); an observed read does the same,
    where the eager check is a ``take(1)`` job of its own.

    ``read_crs`` defers only a splittable file at a budget of 0: the
    count sits in a map stage, where a retried task can count a row
    twice, and at budget 0 only zero against non-zero matters. A gz
    file or a budget above 0 is checked eagerly as before, and the
    check then holds nothing: ``verify`` and ``probe`` pass."""

    def __init__(self):
        self.observation = Observation()
        self._deferred: tuple[str, DataFrame] | None = None

    def _observe(self, path: str, split: DataFrame,
                 bad_rows: DataFrame) -> DataFrame:
        self._deferred = (path, bad_rows)
        return split.observe(self.observation,
                             F.expr("count_if(NOT _ok) AS bad"))

    def verify(self) -> None:
        """Raise ``CrsReadError`` if the action that consumed the read
        saw a malformed row; call this only once that action has run.
        An action whose plan dropped the read (adaptive execution
        prunes a join side it proved empty) reports no metric: the
        check then falls back to ``probe``."""
        if self._deferred is None:
            return
        row = self.observation._jo.getRow()
        if row.size() == 0:
            self.probe()
        elif row.getLong(0):
            raise _malformed(*self._deferred, 0, "at least one")

    def probe(self) -> None:
        """The same check for a read no action consumes: the eager
        probe (``_probe``), one job."""
        if self._deferred is not None:
            _probe(*self._deferred)


def _probe(path: str, bad_rows: DataFrame) -> None:
    """The eager budget-0 check: ``take(1)`` scans partitions in
    growing rounds and stops at the first bad row, one job for a
    one-split file."""
    if bad_rows.take(1):
        raise _malformed(path, bad_rows, 0, "at least one")


def read_crs(spark: SparkSession, path: str, header: CrsHeader | None = None,
             valid_columns: list[str] | None = None,
             cleanse: CleanseConfig | None = None,
             enforce_budget: bool = True,
             check: RowCheck | None = None) -> DataFrame:
    """S5: distributed read of a .crs[.gz] file.

    Plan shape: ``spark.read.text`` -> filter (data rows end with '|')
    -> split -> per-column cast and cleanse, all whole-stage-codegen
    column expressions. They are written as SQL text
    (functions/sqltext.py), so building the plan costs a fixed number
    of py4j calls per DataFrame operation and a small constant per
    column, whatever the cleanse map's rule count.

    ``enforce_budget`` checks the malformed rows against
    ``max_errors``. For a SPLITTABLE (plain-text) file at the
    production budget of 0, a ``check`` (:class:`RowCheck`) moves the
    check into the action that consumes the read: the split rows are
    observed above the ``_ok`` filter, and ``check.verify()`` raises
    once that action has run. Without one, the check is a ``take(1)``
    job that stops at the first bad row. A budget above 0 counts the
    bad rows in a pass of its own, and the main projection re-scans.
    A ``.gz`` file decompresses ONCE: the repartitioned lines are
    persisted, the budget count fills the cache, and the projection
    reads from it (see the inline comment; release via
    ``cache.release_caches()`` in long-lived sessions).
    ``valid_columns`` applies P1 column intersection (projection
    happens before casting, so pruned columns cost nothing).
    """
    header = header or parse_header(path)
    cleanse = cleanse or CleanseConfig()
    # normalize CRLF: header parsing strips \r, data rows must too or
    # every line of a CRLF file would fail the trailing-pipe filter.
    # Data rows carry a trailing '|'; header lines never do.
    rows = (spark.read.text(path)
            .selectExpr(r"regexp_replace(value, '\\r$', '') AS value")
            .filter("endswith(value, '|')"))
    # trailing '|' => len == ncols + 1 with empty last element
    parts = r"split(value, '\\|', -1)"
    split = (f"{parts} AS _p", f"size({parts}) = {len(header.columns) + 1} AS _ok")

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
            # bde_copy pass (lib/LINZ/BdeUpload.pm:1146-1201).
            # Long-lived sessions release it with
            # ``cache.release_caches()`` like every other persist
            # (one string row per data line, spills to disk).
            rows = persist(rows, StorageLevel.MEMORY_AND_DISK)

    data = rows.selectExpr(*split)
    if enforce_budget:
        budget = cleanse.max_errors
        bad_rows = data.filter("NOT _ok")
        if budget == 0 and not is_gz:
            # splittable scan: any bad row is fatal. Observed in the
            # consuming action when the caller takes a check; else
            # probed now. Re-reading is cheap because the plain text
            # scan is parallel, unlike gz above
            if check is not None:
                data = check._observe(path, data, bad_rows)
            else:
                _probe(path, bad_rows)
        else:
            bad = bad_rows.count()
            if bad > budget:
                error = _malformed(path, bad_rows, budget, str(bad))
                if is_gz:
                    # the raise abandons the gz line cache unconsumed —
                    # free it NOW, or a session that validates many
                    # files and catches CrsReadError leaks one full
                    # cached copy per rejected file until the next
                    # release_caches()
                    release(rows)
                raise error

    cols = header.columns
    if valid_columns is not None:
        wanted = {c.lower() for c in valid_columns}
        keep = [(i, c) for i, c in enumerate(cols) if c.name.lower() in wanted]
    else:
        keep = list(enumerate(cols))
    return data.filter("_ok").selectExpr(*[
        f"{_cast_and_cleanse(_field(i), c, cleanse)} AS {ident(c.name)}"
        for i, c in keep])


def _field(i: int) -> str:
    """SQL text of field ``i`` of the split row, an empty field as
    NULL (COPY ``NULL AS ''``). ``get`` is NULL past the end, so no
    filter order — Catalyst may evaluate a pushed-down predicate on a
    parsed column before ``_ok`` — can raise on a short malformed row.
    Rows that pass ``_ok`` hold every field."""
    pick = f"get(_p, {i})"
    return f"CASE WHEN {pick} = '' THEN NULL ELSE {pick} END"


_DATETIME = literal("yyyy-MM-dd HH:mm:ss")


def _cast_and_cleanse(value: str, c: CrsColumn, cleanse: CleanseConfig) -> str:
    """SQL text casting and cleansing the SQL expression ``value`` as
    column ``c``."""
    t = c.spark_type
    if isinstance(t, T.StringType):
        if c.type_name.lower().split("(")[0] in _GEOM_TYPES:
            return cleanse_wkt(value, cleanse)
        return cleanse_text(value, cleanse)
    if isinstance(t, (T.TimestampNTZType, T.TimestampType)):
        ts = f"to_timestamp_ntz({value}, {_DATETIME})"
        if cleanse.minimum_year > 0:
            floor = (f"to_timestamp_ntz({literal(cleanse.invalid_datetime)}, "
                     f"{_DATETIME})")
            ts = (f"CASE WHEN year({ts}) < {cleanse.minimum_year} "
                  f"THEN {floor} ELSE {ts} END")
        return ts
    if isinstance(t, T.DateType):
        d = (f"CAST(coalesce(try_to_timestamp({value}, 'yyyy-MM-dd'), "
             f"try_to_timestamp({value}, 'dd/MM/yyyy')) AS DATE)")
        if cleanse.minimum_year > 0:
            sentinel = literal(_normalize_date_string(cleanse.invalid_date))
            d = (f"CASE WHEN year({d}) < {cleanse.minimum_year} "
                 f"THEN CAST({sentinel} AS DATE) ELSE {d} END")
        return d
    return f"CAST({value} AS {t.simpleString()})"


def cleanse_text(value: str, cleanse: CleanseConfig) -> str:
    """bde_copy character mapping + UTF-8 enforcement of the SQL
    expression ``value``, as SQL text of JVM-side expressions (no
    Python UDF).

    The production map (conf/linz_bde_uploader.conf:416-1244) holds
    ~300 rules; chaining one regexp_replace per rule would nest 300
    expressions. Instead: identity rules vanish, every 1:1 replacement
    or deletion folds into ONE ``translate`` call, and only
    multi-character replacements (newline -> literal "\\n") need a
    regexp each. With ``utf8_encoding enforced``, non-ASCII characters
    the map doesn't allow become ``utf8_replace_unmapped`` (reference
    default '?').

    That chain still scans a value once per step (18 scans for a
    310-rule map with 15 multi-character rules), yet almost every
    value is plain ASCII that no rule touches, so it runs behind a one-scan
    gate: ``CASE WHEN value RLIKE trigger THEN chain ELSE value END``.
    The gate is exact. Every step is the identity on a value holding
    none of the rule source characters (translate, delete and regexp
    rules), none of the C0 controls the chain deletes, and no non-ASCII
    character (which the UTF-8 step may replace). Such a value passes
    through unchanged; any other runs the same chain as before, so
    the output is identical and NULL stays NULL. The trigger is
    written as a NEGATED class of the ASCII characters no step
    changes, so Java compiles it to one bit-set lookup per character;
    a positive class listing the ~300 trigger characters compiles to
    a chain of per-character tests and is slower than no gate at all.
    The collision fallback (``_single_pass_map_udf``) is not gated."""
    chain, sources = _cleanse_chain(value, cleanse)
    if sources is None:
        return chain
    return (f"CASE WHEN {value} RLIKE {literal(_trigger_class(sources))} "
            f"THEN {chain} ELSE {value} END")


# C0 controls the chain deletes (tab, LF and CR are kept)
_C0_DELETED = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"


def _trigger_class(sources: frozenset[str]) -> str:
    """Java regex matching any character some cleanse step can change:
    the complement of the ASCII characters that are neither a rule
    source nor a deleted C0 control (see ``cleanse_text``)."""
    safe = [c for c in map(chr, range(128))
            if c not in sources and not re.fullmatch(_C0_DELETED, c)]
    return "[^" + "".join(f"\\x{ord(c):02X}" for c in safe) + "]"


def _java_replacement(s: str) -> str:
    """Quote a literal for a Java regex replacement string, as
    ``Matcher.quoteReplacement`` does: ``\\`` and ``$`` are special."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def _cleanse_chain(value: str, cleanse: CleanseConfig
                   ) -> tuple[str, frozenset[str] | None]:
    """The ungated cleanse of ``cleanse_text`` as SQL text, and the set
    of rule source characters that gate it; the set is None when a
    rule collision forces the single-pass UDF instead."""
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
        udf = _registered("char_map", sorted(cleanse.char_map.items()),
                          _single_pass_map_udf(cleanse))
        return f"{udf}({value})", None
    out = value
    # translate pairs positionally; unpaired trailing chars are deleted
    if kept_src or del_src:
        out = (f"translate({out}, {literal(''.join(kept_src + del_src))}, "
               f"{literal(''.join(kept_dst))})")
    for src, dst in rx_rules:
        out = (f"regexp_replace({out}, {literal(re.escape(src))}, "
               f"{literal(_java_replacement(dst))})")
    # delete remaining C0 control characters (utf8_replace_invalid delete)
    out = f"regexp_replace({out}, {literal(_C0_DELETED)}, '')"
    if cleanse.utf8_enforced:
        keep_class = "".join(re.escape(c) for c in sorted(allowed))
        non_ascii = literal(f"[^\\x00-\\x7F{keep_class}]")
        out = (f"regexp_replace({out}, {non_ascii}, "
               f"{literal(_java_replacement(cleanse.utf8_unmapped))})")
    sources = frozenset(kept_src + del_src).union(*(s for s, _ in rx_rules))
    return out, sources


def _registered(kind: str, key, udf) -> str:
    """Register the Python UDF ``udf`` in the active session as a
    temporary function named for ``kind`` and ``key`` (two
    configurations never share a name), for SQL text to call; returns
    the quoted name."""
    name = f"bde_{kind}_{hashlib.sha1(repr(key).encode()).hexdigest()[:16]}"
    SparkSession.active().udf.register(name, udf)
    return ident(name)


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


def cleanse_wkt(value: str, cleanse: CleanseConfig) -> str:
    """bde_copy spatial fixup of the SQL expression ``value``, as SQL
    text: strip leading digits/spaces, prepend ``wkt_prefix``. The
    longitude offset (+160.0 on every longitude) requires numeric edits
    inside the WKT text -> Arrow-batched Pandas UDF (slow path,
    geometry columns only), called by its registered name."""
    prefixed = (f"concat({literal(cleanse.wkt_prefix)}, "
                f"regexp_replace({value}, '^[0-9 ]+', ''))")
    offset = cleanse.longitude_offset
    if not offset:
        return prefixed
    return f"{_registered('wkt_offset', offset, _wkt_offset_udf(offset))}({prefixed})"


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
