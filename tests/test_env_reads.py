"""Guard: the library reads only a fixed set of environment variables.

Speed choices have one code path each, and size-dependent fallbacks are
module constants (tests override them with `monkeypatch.setattr`), so an
`os.environ` / `os.getenv` read of any other name is a new runtime toggle
and fails here."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "SPARK_DRIVER_MEMORY",
    "LANTERN_SPARK_FORCE_ARROW_FS",
}


def _env_reads(source: str, filename: str) -> list[tuple[str, str]]:
    """(location, name) for every environment access in `source`. The name
    is the string constant read, or "<dynamic>" when it is not a literal
    (including any bare use of `environ`, e.g. passing it along)."""
    tree = ast.parse(source, filename)
    out = []
    seen = set()  # environ nodes consumed by a recognized read

    def is_environ(node) -> bool:
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    def name_of(node) -> str:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    for node in ast.walk(tree):
        where = f"{filename}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.Call):
            f = node.func
            arg = node.args[0] if node.args else None
            if isinstance(f, ast.Attribute) and is_environ(f.value):
                seen.add(id(f.value))
                out.append((where, name_of(arg)))
            elif (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            ):
                out.append((where, name_of(arg)))
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            seen.add(id(node.value))
            out.append((where, name_of(node.slice)))
        elif isinstance(node, ast.Compare) and any(
            is_environ(c) for c in node.comparators
        ):
            seen.update(id(c) for c in node.comparators if is_environ(c))
            out.append((where, name_of(node.left)))
    for node in ast.walk(tree):
        if is_environ(node) and id(node) not in seen:
            out.append((f"{filename}:{node.lineno}", "<dynamic>"))
    return sorted(out)


def test_guard_finds_every_read_shape():
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = 'D' in os.environ\n"
        "e = environ.get(name)\n"
        "f = getenv('F')\n"
        "g = dict(os.environ)\n"
        "os.environ.setdefault('H', '2')\n"
    )
    assert _env_reads(src, "x.py") == [
        ("x.py:10", "H"),
        ("x.py:3", "A"),
        ("x.py:4", "B"),
        ("x.py:5", "C"),
        ("x.py:6", "D"),
        ("x.py:7", "<dynamic>"),
        ("x.py:8", "F"),
        ("x.py:9", "<dynamic>"),
    ]


def test_library_reads_only_allowed_env_vars():
    files = sorted(
        glob.glob(os.path.join(ROOT, "lantern_extras_spark", "**", "*.py"), recursive=True)
    )
    files.append(os.path.join(ROOT, "__spark_entry__.py"))
    reads = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            reads += _env_reads(fh.read(), os.path.relpath(path, ROOT))
    assert reads, "guard found no reads at all — the scan is broken"
    offenders = [r for r in reads if r[1] not in ALLOWED]
    assert offenders == [], (
        "new environment read: size caps are module constants and speed "
        f"choices have one code path, not an env toggle: {offenders}"
    )
