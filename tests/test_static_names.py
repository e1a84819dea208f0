"""Static check: every name the package loads is bound somewhere.

A name that is read but never bound — a missing import, a typo —
raises ``NameError`` only on the line that reads it, and a broad
``except`` around that line turns the crash into a silent fallback.
That hid a missing ``import os`` in the BPE vocabulary sizing, so the
optimisation behind it never ran.  This walk uses the stdlib
``symtable`` (no Spark, no imports of the package) and flags any
global-scope name that is referenced, not bound at module level, not
bound through a ``global`` declaration, and not a builtin.
"""

import builtins
import pathlib
import symtable

import hadoop_logfile_inputformat_spark

PACKAGE = pathlib.Path(hadoop_logfile_inputformat_spark.__file__).parent

#: Module attributes the interpreter provides without a binding.
_IMPLICIT = set(dir(builtins)) | {"__file__", "__path__", "__builtins__", "__class__"}


def _tables(table: symtable.SymbolTable):
    yield table
    for child in table.get_children():
        yield from _tables(child)


def unbound_names(source: str, filename: str = "<src>") -> list[tuple[int, str]]:
    """(table line, name) of each global-scope name that is loaded but
    never bound in ``source``."""
    top = symtable.symtable(source, filename, "exec")
    bound = {
        s.get_name()
        for t in _tables(top)
        for s in t.get_symbols()
        if (t is top or s.is_declared_global())
        and (s.is_assigned() or s.is_imported() or s.is_namespace())
    }
    missing = []
    for t in _tables(top):
        for s in t.get_symbols():
            name = s.get_name()
            if not s.is_referenced() or name in bound or name in _IMPLICIT:
                continue
            if t is top or s.is_global():
                missing.append((t.get_lineno(), name))
    return sorted(set(missing))


def test_checker_flags_a_missing_import():
    src = (
        "def f(p):\n"
        "    try:\n"
        "        return os.path.join(p, 'x')\n"
        "    except Exception:\n"
        "        return None\n"
    )
    assert unbound_names(src) == [(1, "os")]
    assert unbound_names("import os\n" + src) == []


def test_package_loads_no_unbound_name():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        missing = unbound_names(path.read_text(), str(path))
        if missing:
            found[str(path.relative_to(PACKAGE))] = missing
    assert not found, f"names loaded but never bound: {found}"
