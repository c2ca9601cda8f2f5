"""Seeded BDE repository generator and the pure-Python model of the
state an upload must leave behind.

The generator writes ``.crs`` files in the BDE unload format (header,
``{CRS-DATA}``, pipe-delimited rows with a trailing pipe, empty field =
NULL) under ``level_0/<dataset>/`` and ``level_5/<dataset>/``. A level-5
dataset holds each table's full post-state file plus an ``xaud`` change
table naming the changed keys, as in FIXTURES.md F2.

The model is written independently of the package: it parses the
committed bde_copy block itself, cleanses every generated value the
way the block says, and derives each load's I/U/0/D statistics, the
final table contents and the maintained views from the documented
merge semantics. ``digest`` is an order-independent content hash that
``run.py`` computes the same way inside Spark.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
CONF_DIR = os.path.join(HERE, "conf")
UPLOAD_CONF = os.path.join(CONF_DIR, "linz_bde_uploader.conf")

# Workload sizes. A run repeats rounds of timed upload jobs until its
# time is up, so these set the work in one round, not in one run.
PARCEL_ROWS = 15_000      # full_snapshot and cdc_large base table
CHANGE = 0.01             # share of keys changed per dataset
SMALL_ROWS = 2_000        # each cdc_many_small table
SMALL_CHANGE = 0.02

L0_DATASET = "20240101000000"
L0_SECOND = "20240102000000"   # full_snapshot's follow-up snapshot
L5_DATASET = "20240102000000"  # cdc_large's nightly change

# (name, BDE type, nullable) in file order
PARCEL_COLUMNS = [
    ("id", "integer", False),
    ("ref_no", "integer", False),
    ("loc_id", "integer", True),
    ("status", "char", True),
    ("toc_code", "char", True),
    ("description", "varchar", True),
    ("audit_date", "datetime", True),
    ("area", "decimal", True),
    ("shape", "geometry", True),
]
SMALL_COLUMNS = [
    ("id", "integer", False),
    ("code_id", "integer", True),
    ("status", "char", True),
    ("name", "varchar", True),
    ("audit_date", "datetime", True),
    ("amount", "decimal", True),
]
XAUD_COLUMNS = [
    ("id", "integer", False),
    ("tablename", "varchar", False),
    ("tablekeyvalue", "integer", False),
    ("action", "char", False),
    ("timestamp", "datetime", False),
]

TOC_CODES = [f"T{i:03d}" for i in range(40)]
STATUSES = ["CURR", "HIST", "PEND", "SURV"]
# planted text: mapped 1:1 (é, –), kept (ā, ō), multi-character (…, ½,
# ß), deleted control (\x07) and unmapped (♯, 中) characters
PLANTS = ["Rue é", "Māori ō", "A…B", "½ share", "Straße", "bell\x07",
          "sharp ♯", "中 lot", "n–s", "Ærø"]


@dataclass
class TableSpec:
    name: str
    tag: str
    columns: list
    key: str = "id"
    unique: list = field(default_factory=list)
    view: tuple | None = None       # (group column, value column)
    minmax: bool = False            # also a __minmax view
    counter: str = "loc_id"         # integer column every update bumps

    def index(self, col: str) -> int:
        return [c for c, _, _ in self.columns].index(col)


PARCEL = TableSpec("crs_parcel", "par1", PARCEL_COLUMNS,
                   unique=["ref_no"], view=("toc_code", "area"), minmax=True)


def small_specs() -> list[TableSpec]:
    """The cdc_many_small tables, as conf/tables_small.conf names them:
    no unique column, no views, no geometry."""
    with open(os.path.join(CONF_DIR, "tables_small.conf")) as fh:
        found = re.findall(r"^TABLE (\S+) key=id files (\S+)$", fh.read(),
                           re.M)
    return [TableSpec(name, tag, SMALL_COLUMNS, counter="code_id")
            for name, tag in found]


# ------------------------------------------------------------ writing

def _header(table: str, columns: list, start: str, end: str,
            size: int) -> str:
    cols = "".join(f"COLUMN\t {n:<30} {t} {'NULL' if nl else 'NOT NULL'}\n"
                   for n, t, nl in columns)
    return (f"HEDR\t 2.0.0\nSOFTWARE cbe_b30 V1.0.1\nSCHEMA\t V1.0\n"
            f"USER\t crs_bde\nSTART\t {start}\nEND\t {end}\n"
            f"SQL\t SELECT * FROM {table}\nTABLE\t{table}\n{cols}"
            f"DESC\nSIZE          {size}\n{{CRS-DATA}}\n")


def write_crs(path: str, table: str, columns: list, rows, start: str,
              end: str) -> int:
    """Write one .crs file; returns the number of data rows."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    lines = ["|".join("" if v is None else v for v in r) + "|"
             for r in rows]
    body = ("\n".join(lines) + "\n") if lines else ""
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(_header(table, columns, start, end,
                         len(body.encode("utf-8"))))
        fh.write(body)
    return len(lines)


def stamp(dataset: str) -> str:
    d = dataset
    return f"{d[0:4]}-{d[4:6]}-{d[6:8]} {d[8:10]}:{d[10:12]}:{d[12:14]}"


# -------------------------------------------------------------- rows

class RowMaker:
    """Raw field values (strings, None = NULL) for new rows."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.next_ref = 5_000_000

    def _datetime(self) -> str:
        r = self.rng
        # about 1 in 12 before minimum_year 1900, floored on load
        return (f"{r.randrange(1880, 2024)}-{r.randrange(1, 13):02d}-"
                f"{r.randrange(1, 29):02d} {r.randrange(24):02d}:"
                f"{r.randrange(60):02d}:{r.randrange(60):02d}")

    def _text(self, base: str) -> str:
        if self.rng.random() < 0.15:
            return f"{base} {self.rng.choice(PLANTS)}"
        return base

    def _shape(self) -> str:
        r = self.rng
        lon, lat = r.uniform(166.5, 178.5), r.uniform(-47.0, -34.5)
        pts = []
        for _ in range(r.randrange(4, 9)):
            lon += r.uniform(-0.002, 0.002)
            lat += r.uniform(-0.002, 0.002)
            pts.append(f"{lon:.6f} {lat:.6f}")
        return "LINESTRING(" + ",".join(pts) + ")"

    def maybe(self, value, p_null: float = 0.03):
        return None if self.rng.random() < p_null else value

    def parcel(self, key: int) -> tuple:
        r = self.rng
        self.next_ref += 1
        return (str(key), str(self.next_ref),
                self.maybe(str(r.randrange(1, 10_000_000))),
                self.maybe(r.choice(STATUSES)),
                self.maybe(r.choice(TOC_CODES), 0.01),
                self.maybe(self._text(f"Lot {r.randrange(1, 999)} DP "
                                      f"{r.randrange(10000, 99999)}")),
                self.maybe(self._datetime()),
                self.maybe(f"{r.randrange(100, 10**8) / 100:.2f}"),
                self.maybe(self._shape(), 0.02))

    def small(self, key: int) -> tuple:
        r = self.rng
        return (str(key),
                self.maybe(str(r.randrange(1, 1_000_000))),
                self.maybe(r.choice(STATUSES)),
                self.maybe(self._text(f"Name {r.randrange(1, 99_999)}")),
                self.maybe(self._datetime()),
                self.maybe(f"{r.randrange(100, 10**7) / 100:.2f}"))

    def row(self, spec: TableSpec, key: int) -> tuple:
        return (self.parcel if spec.columns is PARCEL_COLUMNS
                else self.small)(key)

    def update(self, spec: TableSpec, row: tuple) -> tuple:
        """A real change: a new integer value plus one re-drawn field."""
        fresh = self.row(spec, int(row[0]))
        out = list(row)
        i_int = spec.index(spec.counter)
        out[i_int] = str(int(row[i_int] or 0) + 1 + self.rng.randrange(99))
        j = self.rng.choice([i for i in range(2, len(row)) if i != i_int])
        out[j] = fresh[j]
        return tuple(out)


def change_round(spec: TableSpec, state: dict, maker: RowMaker,
                 frac: float, next_key: int):
    """One dataset's worth of changes on ``state`` (key -> raw row).

    Returns (new_state, named, next_key) where ``named`` is the list of
    (key, xaud action) pairs: real updates, deletes, inserts,
    null-updates (named U, row unchanged) and, for tables with a
    unique column, pairs of rows that swap their unique values."""
    rng = maker.rng
    new = dict(state)
    m = max(8, round(frac * len(state)))
    n_swap = (m // 20) * 2 if spec.unique else 0
    n_del, n_ins, n_null = m // 5, m // 4, m // 10
    n_upd = m - n_swap - n_del - n_ins - n_null
    picked = rng.sample(sorted(state), n_swap + n_del + n_null + n_upd)
    named = []
    swaps, picked = picked[:n_swap], picked[n_swap:]
    u = spec.index(spec.unique[0]) if spec.unique else None
    for a, b in zip(swaps[0::2], swaps[1::2]):
        ra, rb = list(new[a]), list(new[b])
        ra[u], rb[u] = rb[u], ra[u]
        new[a], new[b] = tuple(ra), tuple(rb)
        named += [(a, "U"), (b, "U")]
    for k in picked[:n_del]:
        del new[k]
        named.append((k, "D"))
    for k in picked[n_del:n_del + n_null]:
        named.append((k, "U"))
    for k in picked[n_del + n_null:]:
        new[k] = maker.update(spec, new[k])
        named.append((k, "U"))
    for _ in range(n_ins):
        new[next_key] = maker.row(spec, next_key)
        named.append((next_key, "I"))
        next_key += 1
    rng.shuffle(named)
    return new, named, next_key


# ------------------------------------------------------------- model

def _unescape(tok: str) -> str:
    out, i = [], 0
    while i < len(tok):
        if tok[i] == "\\" and i + 1 < len(tok):
            nxt = tok[i + 1]
            width = {"x": 2, "u": 4}.get(nxt)
            if width and re.fullmatch(r"[0-9a-fA-F]{%d}" % width,
                                      tok[i + 2:i + 2 + width]):
                out.append(chr(int(tok[i + 2:i + 2 + width], 16)))
                i += 2 + width
                continue
            out.append(nxt)
            i += 2
            continue
        out.append(tok[i])
        i += 1
    return "".join(out)


class CleanseModel:
    """bde_copy semantics, read from the conf's bde_copy block: each
    input character is replaced once by its rule (never re-scanned),
    C0 control characters are dropped, and under ``utf8_encoding
    enforced`` any other non-ASCII character that no rule emits or
    keeps becomes ``utf8_replace_unmapped``. Datetimes before
    ``minimum_year`` become the invalid-datetime sentinel; geometry
    gains the WKT prefix and every longitude is shifted by the offset,
    keeping the source token's decimals."""

    _PAIR = re.compile(r"(-?\d+(?:\.\d+)?)(\s+)(-?\d+(?:\.\d+)?)")

    def __init__(self, conf_text: str):
        block = re.search(r"bde_copy_configuration <<\s*(\S+)\n(.*?)\n\1",
                          conf_text, re.S).group(2)
        self.char_map: dict[str, str] = {}
        kv = {}
        for line in block.splitlines():
            parts = line.strip().split(None, 2)
            if not parts or parts[0].startswith("#"):
                continue
            if parts[0] == "replace":
                dst = parts[2].split()[0] if len(parts) > 2 else ""
                self.char_map[_unescape(parts[1])] = (
                    "" if dst.lower() in ("delete", "none") else _unescape(dst))
            else:
                kv[parts[0]] = line.strip().split(None, 1)[1]
        self.minimum_year = int(kv.get("minimum_year", 0))
        self.invalid_datetime = kv.get("invalid_datetime_string",
                                       "1800-01-01 00:00:00")
        self.wkt_prefix = kv.get("wkt_prefix", "")
        self.offset = float(kv.get("longitude_offset", 0))
        self.enforced = kv.get("utf8_encoding", "") == "enforced"
        self.unmapped = _unescape(kv.get("utf8_replace_unmapped", "?"))
        self.max_errors = int(kv.get("max_errors", 0))
        self.allowed = {c for s, d in self.char_map.items()
                        for c in (d + (s if s == d else ""))
                        if ord(c) > 127}

    def text(self, s):
        if s is None:
            return None
        out = "".join(self.char_map.get(c, c) for c in s)
        out = re.sub(r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "", out)
        if self.enforced:
            out = "".join(c if ord(c) < 128 or c in self.allowed
                          else self.unmapped for c in out)
        return out

    def datetime(self, s):
        if s is None:
            return None
        return self.invalid_datetime if int(s[:4]) < self.minimum_year else s

    def geometry(self, s):
        if s is None:
            return None
        s = self.wkt_prefix + re.sub(r"^[0-9 ]+", "", s)
        if not self.offset:
            return s

        def shift(m):
            tok = m.group(1)
            dec = len(tok.split(".", 1)[1]) if "." in tok else 0
            return f"{float(tok) + self.offset:.{dec}f}{m.group(2)}{m.group(3)}"

        head, sep, body = s.partition(";")
        return head + sep + self._PAIR.sub(shift, body) if sep \
            else self._PAIR.sub(shift, s)

    def value(self, typ: str, s):
        """Raw field -> loaded value (int, str or Decimal)."""
        if typ == "integer":
            return None if s is None else int(s)
        if typ == "decimal":
            return None if s is None else Decimal(s)
        if typ == "datetime":
            return self.datetime(s)
        if typ == "geometry":
            return self.geometry(s)
        return self.text(s)


def load_model() -> CleanseModel:
    with open(UPLOAD_CONF, encoding="utf-8") as fh:
        return CleanseModel(fh.read())


class TableModel:
    """Loaded (cleansed) rows of one table, memoized per raw row:
    consecutive snapshots share almost every row."""

    def __init__(self, spec: TableSpec, cleanse: CleanseModel):
        self.spec = spec
        self.cleanse = cleanse
        self._memo: dict[tuple, tuple] = {}

    def loaded(self, raw: tuple) -> tuple:
        row = self._memo.get(raw)
        if row is None:
            row = tuple(self.cleanse.value(t, v)
                        for (_, t, _), v in zip(self.spec.columns, raw))
            self._memo[raw] = row
        return row

    def state(self, raw_state: dict) -> dict:
        return {k: self.loaded(r) for k, r in raw_state.items()}


# statistics tuples are (ninsert, nupdate, nnullupdate, ndelete)

def classify(spec: TableSpec, old: dict, new: dict, named) -> dict:
    """Level-5 merge semantics over loaded rows: keys named in the
    change table plus keys displaced by a unique-value move (a new row
    holds a unique value an old row with another key holds) become
    D (gone), I (new), 0 (equal), X (unique column changed) or U."""
    keys = set(named)
    for col in spec.unique:
        i = spec.index(col)
        holders: dict = {}
        for k, r in new.items():
            if r[i] is not None:
                holders.setdefault(r[i], set()).add(k)
        for k, r in old.items():
            if r[i] is not None and holders.get(r[i], set()) - {k}:
                keys.add(k)
    uniq = [spec.index(c) for c in spec.unique]
    actions = {}
    for k in keys:
        if k in old and k not in new:
            actions[k] = "D"
        elif k in new and k not in old:
            actions[k] = "I"
        elif k in new:
            if old[k] == new[k]:
                actions[k] = "0"
            elif any(old[k][i] != new[k][i] for i in uniq):
                actions[k] = "X"
            else:
                actions[k] = "U"
    return actions


def level5_result(spec: TableSpec, old: dict, new: dict, named):
    """(stats, post-merge state, action counts) of one level-5 merge."""
    actions = classify(spec, old, new, named)
    c = {a: 0 for a in "IU0DX"}
    for a in actions.values():
        c[a] += 1
    out = {k: r for k, r in old.items()
           if actions.get(k) not in ("D", "U", "X")}
    for k, a in actions.items():
        if a in ("I", "U", "X"):
            out[k] = new[k]
    stats = (c["I"] + c["X"], c["U"], c["0"], c["D"] + c["X"])
    return stats, out, c


def diff_result(old: dict, new: dict):
    """(stats, post state, action counts) of a -full-incremental
    load: a keyed full diff of the loaded table against the new
    snapshot; identical rows produce no action."""
    ins = len(new.keys() - old.keys())
    dele = len(old.keys() - new.keys())
    upd = sum(1 for k in new.keys() & old.keys() if new[k] != old[k])
    return (ins, upd, 0, dele), dict(new), {"I": ins, "U": upd, "D": dele,
                                             "0": 0, "X": 0}


# ----------------------------------------------------------- digests

def canon(value, typ: str) -> str:
    """The text Spark's cast-to-string gives a loaded value."""
    if value is None:
        return "\\N"
    if typ == "decimal":
        return f"{value:.10f}"
    return str(value)


def row_hash(fields) -> int:
    text = "\x1f".join(fields)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)


def digest(rows) -> tuple[int, int]:
    """(row count, sum of per-row hashes): order-independent. Each row
    is an iterable of canonical field strings in column-name order."""
    n = s = 0
    for fields in rows:
        n += 1
        s += row_hash(fields)
    return n, s


def table_digest(spec: TableSpec, state: dict) -> tuple[int, int]:
    order = sorted(range(len(spec.columns)), key=lambda i: spec.columns[i][0])
    types = [spec.columns[i][1] for i in order]
    return digest([canon(r[i], t) for i, t in zip(order, types)]
                  for r in state.values())


def _money(d: Decimal | None) -> str:
    return "\\N" if d is None else \
        f"{d.quantize(Decimal('0.01'), rounding=ROUND_HALF_UP):.2f}"


def view_digests(spec: TableSpec, state: dict) -> dict:
    """Digests of the ``__agg`` (group, n, n_vals, total) and
    ``__minmax`` (group, n, vmin, vmax) views over ``state``; the value
    column is taken as decimal(12,2) and groups with no rows vanish."""
    g, v = spec.index(spec.view[0]), spec.index(spec.view[1])
    groups: dict = {}
    for r in state.values():
        val = None if r[v] is None else \
            r[v].quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        groups.setdefault(r[g], []).append(val)
    agg, mm = [], []
    for key, vals in groups.items():
        present = [x for x in vals if x is not None]
        gk = "\\N" if key is None else key
        # columns in name order: n, n_vals, <group>, total
        agg.append([str(len(vals)), str(len(present)), gk,
                    _money(sum(present)) if present else "\\N"])
        # columns in name order: n, <group>, vmax, vmin
        mm.append([str(len(vals)), gk,
                   _money(max(present)) if present else "\\N",
                   _money(min(present)) if present else "\\N"])
    out = {f"{spec.name}__agg": digest(agg)}
    if spec.minmax:
        out[f"{spec.name}__minmax"] = digest(mm)
    return out


def expected_digests(spec: TableSpec, state: dict) -> dict:
    out = {spec.name: table_digest(spec, state)}
    if spec.view:
        out.update(view_digests(spec, state))
    return out


# --------------------------------------------------------- workloads

@dataclass
class Job:
    """One upload job: the BdeUploader.apply_updates arguments, the
    statistics the ledger must record for each (table, dataset) load,
    and the input it reads."""

    kwargs: dict
    stats: dict                     # (table, dataset) -> (I, U, 0, D)
    actions: dict                   # (table, dataset) -> action counts
    compared: int = 0               # keys its merge compares (0: none)
    input_bytes: int = 0
    input_rows: int = 0


@dataclass
class Workload:
    name: str
    repo: str
    tables_conf: str
    jobs: list = field(default_factory=list)   # the jobs of one round
    final: dict = field(default_factory=dict)  # table/view -> digest
    setup: Job | None = None        # untimed, before the snapshot
    setup_final: dict = field(default_factory=dict)
    input_files: dict = field(default_factory=dict)  # path -> data rows
    # isolated cleanse/merge probe input:
    # (spec, before file, after file, keys named by the change)
    probe: tuple | None = None


WORKLOADS = ("full_snapshot", "cdc_large", "cdc_many_small")
# Workloads BENCHMARK.json leaves out, with the reason. cdc_large runs
# and reports its failures: a level-5 merge of a table with a maintained
# min/max view raises under Spark's default ANSI mode
# (tests/test_defects.py).
HELD_BACK = {"cdc_large": "level-5 merge with a min/max view fails"}


def build(name: str, seed: int, root: str,
          model: CleanseModel | None = None,
          rows: int | None = None) -> Workload:
    """Write workload ``name``'s repository (one of WORKLOADS) under
    ``root`` from ``seed`` and return its jobs with their expected
    outcome; ``rows`` sizes each table.

    full_snapshot: level 0 of the parcel table into an empty store
    (EP1), then a ~1% different level 0 applied as a diff (EP3).
    cdc_large: set-up loads the parcel table at level 0; the round
    applies one level-5 dataset naming ~1% of keys. cdc_many_small: the
    same for every table of conf/tables_small.conf, ~2% of keys each."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}")
    model = model or load_model()
    if name == "cdc_many_small":
        specs, rows, frac = small_specs(), rows or SMALL_ROWS, SMALL_CHANGE
        conf = "tables_small.conf"
    else:
        specs, rows, frac = [PARCEL], rows or PARCEL_ROWS, CHANGE
        conf = "tables_parcel.conf"
    maker = RowMaker(random.Random(f"{name}:{seed}:{rows}"))
    wl = Workload(name, root, os.path.join(CONF_DIR, conf))
    snapshot = name == "full_snapshot"
    ds1 = L0_SECOND if snapshot else L5_DATASET

    def write(spec, level, ds, raw, start):
        path = os.path.join(root, f"level_{level}", ds, f"{spec.tag}.crs")
        wl.input_files[path] = write_crs(
            path, spec.name, spec.columns,
            (raw[k] for k in sorted(raw)), start, stamp(ds))
        return path

    def job(kwargs, paths, loads, compared):
        """``loads``: (spec, dataset, stats, action counts) per table."""
        return Job(kwargs, {(sp.name, ds): st for sp, ds, st, _ in loads},
                   {(sp.name, ds): a for sp, ds, _, a in loads}, compared,
                   sum(os.path.getsize(p) for p in paths),
                   sum(wl.input_files[p] for p in paths))

    l0_paths, l0_loads, paths, loads, changes = [], [], [], [], []
    compared = 0
    for spec in specs:
        table = TableModel(spec, model)
        raw0 = {k: maker.row(spec, k) for k in range(1, rows + 1)}
        old = table.state(raw0)
        l0_paths.append(write(spec, 0, L0_DATASET, raw0, stamp(L0_DATASET)))
        l0_loads.append((spec, L0_DATASET, (rows, 0, 0, 0), {"I": rows}))
        raw1, named, _ = change_round(spec, raw0, maker, frac, rows + 1)
        new = table.state(raw1)
        keys = [k for k, _ in named]
        if snapshot:
            stats, post, actions = diff_result(old, new)
            paths.append(write(spec, 0, ds1, raw1, stamp(ds1)))
            compared += len(old.keys() | new.keys())
        else:
            stats, post, actions = level5_result(spec, old, new, keys)
            paths.append(write(spec, 5, ds1, raw1, stamp(L0_DATASET)))
            compared += len(set(keys))
            changes += [(spec.name, k, a) for k, a in named]
        loads.append((spec, ds1, stats, actions))
        wl.setup_final.update(expected_digests(spec, old))
        wl.final.update(expected_digests(spec, post))
        if wl.probe is None:
            wl.probe = (spec, l0_paths[-1], paths[-1], keys)
    l0 = job({"level0": True}, l0_paths, l0_loads, 0)
    if snapshot:
        l0.kwargs["before"] = L0_SECOND
        wl.setup_final = {}
        wl.jobs = [l0, job({"full_incremental": True}, paths, loads,
                           compared)]
        return wl
    xaud = os.path.join(root, "level_5", ds1, "xaud.crs")
    wl.input_files[xaud] = write_crs(
        xaud, "cbe_data", XAUD_COLUMNS,
        ((str(i + 1), t, str(k), a, stamp(ds1))
         for i, (t, k, a) in enumerate(changes)),
        stamp(L0_DATASET), stamp(ds1))
    wl.setup = l0
    wl.jobs = [job({"level5": True}, paths + [xaud], loads, compared)]
    return wl
