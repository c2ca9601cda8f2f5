"""One view-maintenance algebra: the maintained-view family splits an
actions frame into the keys a merge removes (D/U/X) and adds (I/U/X)
in one place, ``merge._delta_rows``, and compares groups null-safely
through one predicate, ``merge.groups_match``."""

import inspect
import pathlib
import re

from linz_bde_uploader_spark.operators import merge as M

OPS = pathlib.Path(M.__file__).parent
SPLIT = re.compile(r"""F\.col\(\s*["']action["']\s*\)\s*\.isin\(""")


def test_action_split_written_once():
    lines, first = inspect.getsourcelines(M._delta_rows)
    helper = range(first, first + len(lines))
    found, offenders = [], []
    for path in sorted(OPS.rglob("*.py")):
        text = path.read_text()
        for m in SPLIT.finditer(text):
            n = text.count("\n", 0, m.start()) + 1
            found.append(n)
            if not (path == pathlib.Path(M.__file__) and n in helper):
                offenders.append(f"{path.relative_to(OPS)}:{n}")
    assert not offenders, (
        "split actions through merge._delta_rows:\n" + "\n".join(offenders))
    assert found, "merge._delta_rows no longer filters the action codes"


def test_no_local_null_safe_group_predicate():
    offenders = [
        f"{path.relative_to(OPS)}:{n}: {line.strip()}"
        for path in sorted(OPS.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\bdef null_safe_on\b", line)]
    assert not offenders, (
        "compare groups through merge.groups_match:\n"
        + "\n".join(offenders))
