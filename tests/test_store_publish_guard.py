"""One publish path for the state store: in ``state/store.py`` only
``StateStore._publish`` may call ``_commit_manifest`` or start a
``DataFrameWriter`` write, and it has one site of each — every transition
commits through the same recover → write → link → manifest step, so a new
transition cannot hand-copy the protocol and skip part of it."""

import ast
from pathlib import Path

STORE = (
    Path(__file__).resolve().parents[1] / "ideafast_etl_spark" / "state" / "store.py"
)


def sites(source: str) -> list[tuple[str, str]]:
    """Sorted ``(method, kind)`` pairs: ``commit`` for each call of
    ``_commit_manifest``, ``write`` for each ``<df>.write`` attribute read
    (a DataFrameWriter; a called ``f.write(...)`` is a file write and does
    not count). Nested functions count toward their enclosing method."""
    out = []
    for cls in ast.parse(source).body:
        if not isinstance(cls, ast.ClassDef):
            continue
        for fn in cls.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            nodes = list(ast.walk(fn))
            called = {id(n.func) for n in nodes if isinstance(n, ast.Call)}
            for n in nodes:
                if not isinstance(n, ast.Attribute):
                    continue
                if n.attr == "_commit_manifest" and id(n) in called:
                    out.append((fn.name, "commit"))
                elif n.attr == "write" and id(n) not in called:
                    out.append((fn.name, "write"))
    return sorted(out)


def test_counter_sees_writers_and_commits_not_file_writes():
    src = (
        "class S:\n"
        "    def a(self, df, f):\n"
        "        f.write('x')\n"
        "        df.write.mode('overwrite').parquet('p')\n"
        "    def b(self):\n"
        "        def inner():\n"
        "            self._commit_manifest('1')\n"
        "        inner()\n"
    )
    assert sites(src) == [("a", "write"), ("b", "commit")]


def test_only_publish_commits_and_writes():
    assert sites(STORE.read_text()) == [("_publish", "commit"), ("_publish", "write")]
