"""Query catalog — the engine's declared operator surface.

Query modules declare ``fn(spark, sf_dir) -> DataFrame`` entries with
``@register``, each with the equivalent ANSI SQL that DuckDB runs on the
same parquet tables as its ``oracle`` (``None``: rows-only check).

The driver checks about 50 queries per run in ``queries()`` order, which
puts first ``changed()``: the queries whose fingerprint is not the one
``verified.json`` (written by ``tools/round_close.py``) holds for their
last driver green. A fingerprint hashes the oracle SQL, the source of
every package function and class the query reaches, and the module
globals they read, as constants: keep runtime state out of globals.
"""

import contextlib
import dis
import functools
import hashlib
import importlib.util
import inspect
import json
import re
import types
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

VERIFIED_PATH = Path(__file__).with_name("verified.json")
_PKG = __name__.split(".")[0] + "."
_MODULES = """tpch relational timeops textops corpusops vectorops linkingops dedupops
    streamops parity trackingops llmprep hygieneops sketchops graphops behaviorops searchops
    cdcops webprep prepops evalops statops mlops martops insightops nlops""".split()


@dataclass
class QueryEntry:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


CATALOG: dict[str, QueryEntry] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = "") -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in CATALOG:
            raise ValueError(f"duplicate query name {name!r}")
        CATALOG[name] = QueryEntry(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn
    return deco


def _load_all() -> None:
    for m in _MODULES:
        importlib.import_module(f"{__package__}.{m}")


def _ours(v):
    """``v``, unwrapped, if it is a function or class of this package."""
    v = inspect.unwrap(v) if callable(v) else v
    return v if isinstance(v, (types.FunctionType, type)) and f"{v.__module__}.".startswith(_PKG) else None


def _canon(v, reach: list) -> str:
    """``v`` as the same text in every process; package code in it is reached."""
    if isinstance(v, (list, tuple, set, frozenset, dict)):
        pairs = v.items() if isinstance(v, dict) else ((None, x) for x in v)
        items = [f"{_canon(k, reach)}:{_canon(x, reach)}" for k, x in pairs]
        return f"{type(v).__name__}{items if isinstance(v, (list, tuple)) else sorted(items)}"
    if code := _ours(v):
        reach.append(code)
        return f"{code.__module__}.{code.__qualname__}"
    return re.sub(r" at 0x[0-9a-f]+", "", repr(v))


@functools.cache
def _node(obj) -> tuple[str, tuple]:
    """(hashed text, package code reached) of a package function or class."""
    text, reach, attrs, seen = [f"{obj.__module__}.{obj.__qualname__}"], [], set(), set()
    with contextlib.suppress(OSError, TypeError):  # generated code has no source
        text.append(inspect.getsource(obj))
    if isinstance(obj, type):
        vals = [(k, getattr(v, "__func__", getattr(v, "fget", v))) for k, v in vars(obj).items()]
        vals += [("", b) for b in obj.__bases__]
    else:
        g, codes = obj.__globals__, [obj.__code__]
        cells = [c.cell_contents for c in obj.__closure__ or ()]
        vals = [("", v) for v in [*(obj.__defaults__ or ()), *(obj.__kwdefaults__ or {}).values(), *cells]]
        while codes:
            co = codes.pop()
            codes += [c for c in co.co_consts if isinstance(c, types.CodeType)]
            consts: list = []
            for ins in dis.get_instructions(co):
                if ins.opname == "LOAD_CONST":
                    consts.append(ins.argval)
                elif ins.opname == "LOAD_GLOBAL" and ins.argval in g and not ins.argval.startswith("__"):
                    vals.append((ins.argval, g[ins.argval]))
                elif ins.opname in ("LOAD_ATTR", "LOAD_METHOD", "IMPORT_FROM"):
                    attrs.add(ins.argval)
                elif ins.opname == "IMPORT_NAME":  # after LOAD_CONST level, LOAD_CONST fromlist
                    if f"{importlib.util.resolve_name('.' * consts[-2] + ins.argval, g['__package__'])}.".startswith(_PKG):
                        vals.append(("", __import__(ins.argval, g, None, consts[-1], consts[-2])))
    for n, v in vals:  # grows by the attributes read off each package module reached
        if not isinstance(v, types.ModuleType):
            text.append(f"{n}={_canon(v, reach)}")
        elif f"{v.__name__}.".startswith(_PKG) and v not in seen:
            seen.add(v)
            vals += [(f"{v.__name__}.{a}", getattr(v, a)) for a in sorted(attrs) if hasattr(v, a)]
    return "\n".join(text), tuple(reach)


@functools.cache
def fingerprints() -> dict[str, str]:
    """Query name -> fingerprint, in registration order."""
    _load_all()
    out = {}
    for name, entry in CATALOG.items():
        texts, todo = {}, [entry.fn]
        while todo:
            if (obj := todo.pop()) not in texts:
                texts[obj], reach = _node(obj)
                todo += reach
        text = "\0".join([entry.oracle or "", *sorted(texts.values())])
        out[name] = hashlib.sha256(text.encode()).hexdigest()[:16]
    return out


def changed() -> list[str]:
    """Queries with no driver green on their current code, in registration order."""
    record = json.loads(VERIFIED_PATH.read_text())
    return [n for n, fp in fingerprints().items() if record.get(n) != fp]


def _ordered() -> list[str]:
    first = changed()
    return first + [n for n in fingerprints() if n not in first]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: CATALOG[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {name: CATALOG[name].oracle for name in _ordered() if CATALOG[name].oracle is not None}
