#!/usr/bin/env python
"""Capture .explain('formatted') for a set of queries into plans/<tag>/.

Usage: python scripts/explain_queries.py [--eager] <tag> <suffix> [qid ...]
Writes plans/<tag>/<qid>_<suffix>.txt for each qid (default: the
queries named on stdin, one per line, if no qids given). The input
tables are read from SPARK_GRAFT_SF_DIR (default: the sf0.1 fixtures).

explain itself is planning-side and runs no job, but building a
query's DataFrame can: the llm/emb/graph queries that checkpoint or
collect intermediate results (21 of them in perfbench/probe.json, e.g.
the LSH family's signature checkpoint, hot-bucket census and candidate
checkpoint) run those Spark jobs here, and their captured plan shows
only the fragment after the last checkpoint. Do not run this alongside
timing work.

--eager also records, in build order, the formatted plan of every
``localCheckpoint(eager=True)``, ``collect``, ``count``, ``first`` and
``isEmpty`` the build runs, and masks the per-session numbers
(expression ``#id``, ``plan_id``, RDD ids, ``observe()`` UUIDs) and
per-call scratch names (temp dirs, the catalog objects named after
them, uuid-suffixed views), so two captures of the same code, also
from two checkouts, compare with one ``diff -r``.
"""

from __future__ import annotations

import contextlib
import functools
import io
import os
import re
import sys
import tempfile

from pyspark.sql import DataFrame

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import engine  # noqa: E402
from engine.session import get_spark  # noqa: E402

_EAGER_ACTIONS = ("localCheckpoint", "collect", "count", "first", "isEmpty")

_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # JVM call site of a py4j-created RDD: it reads <unknown> instead of
    # NativeMethodAccessorImpl.java once the JVM inflates that reflective
    # call, which depends on how often it ran before, not on the plan
    (
        re.compile(r"(?<= at )(?:NativeMethodAccessorImpl\.java|<unknown>):0"),
        "JVM:0",
    ),
    (
        re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
        "UUID",
    ),
    # per-call scratch names: catalog objects named after their scratch
    # dir (engine.roundtrip), uuid4().hex suffixes, scratch dirs
    (re.compile(r"(?<=_scratch_)[a-z0-9_]{8}(?!\w)"), "X"),
    (re.compile(r"(?<=_)(?:[0-9a-f]{32}|[0-9a-f]{8})(?![0-9a-z])"), "HEX"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s\],]+"), "TMPDIR/X"),
)


def mask(text: str) -> str:
    for pat, repl in _MASKS:
        text = pat.sub(repl, text)
    return text


def formatted(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextlib.contextmanager
def recording_eager_actions(cls: type, log: list[str]):
    """Patch the eager actions of DataFrame class ``cls`` so each
    outermost call appends its action name and formatted plan to ``log``
    before it runs (``first`` runs ``collect`` inside; only ``first`` is
    recorded)."""
    originals = {name: getattr(cls, name) for name in _EAGER_ACTIONS}
    depth = [0]

    def wrap(name, fn):
        @functools.wraps(fn)
        def recorded(self, *args, **kwargs):
            if depth[0] == 0:
                if name != "localCheckpoint" or kwargs.get(
                    "eager", args[0] if args else True
                ):
                    log.append(
                        f"== eager {len(log) + 1}: {name} ==\n" + formatted(self)
                    )
            depth[0] += 1
            try:
                return fn(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return recorded

    for name, fn in originals.items():
        setattr(cls, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(cls, name, fn)


def main() -> None:
    args = sys.argv[1:]
    eager = "--eager" in args
    if eager:
        args.remove("--eager")
    tag, suffix = args[0], args[1]
    qids = args[2:]
    if not qids:
        qids = [ln.strip() for ln in sys.stdin if ln.strip()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-capture")
    # The concrete class (classic or Connect), not the pyspark.sql.DataFrame
    # base, holds the action methods the build calls.
    df_class = type(spark.range(0))
    for qid in qids:
        if eager:
            log: list[str] = []
            with recording_eager_actions(df_class, log):
                df = engine.QUERIES[qid](spark, sf_dir)
            text = mask("".join(log) + "== final ==\n" + formatted(df))
        else:
            text = formatted(engine.QUERIES[qid](spark, sf_dir))
        path = os.path.join(out_dir, f"{qid}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
