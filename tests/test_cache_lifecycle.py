"""One way to persist and release a relation: every persist in the
package goes through ``linz_bde_uploader_spark.cache``, so the
harnesses' ``release_caches()`` reaches all of them."""

import pathlib
import re

import linz_bde_uploader_spark

PKG = pathlib.Path(linz_bde_uploader_spark.__file__).parent
RAW = re.compile(r"\.(cache|persist|unpersist)\(|\b(_track|untrack)\b")


def test_only_cache_module_persists():
    sources = sorted(PKG.rglob("*.py"))
    assert PKG / "cache.py" in sources
    offenders = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sources if path != PKG / "cache.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if RAW.search(line)]
    assert not offenders, (
        "persist/release through linz_bde_uploader_spark.cache "
        "(persist, release, release_caches):\n" + "\n".join(offenders))
