"""Cache-scoping gate (r15, VERDICT r14 #5).

Spark's CacheManager matches by logical plan, so a .cache()/.persist()
with no unpersist outlives its query: the NEXT identically-built run
silently reuses the previous run's blocks — a persisted cross-run
intermediate, exactly the reuse class the bench rules forbid (found
live in unigram_train_vocab in r14, where bench runs 2-4 never paid
the word-table build).

This gate is source-level on purpose: it catches the leak at review
time, not after a judge-side A/B dispute. It walks each module's AST
for real call sites, so a comment or string literal that mentions
.cache() neither trips nor satisfies it. Policy:
- a module may call .cache()/.persist() ONLY if it is allowlisted here
  with its pairing documented, and it must contain an unpersist;
- every other intra-query materialization must use localCheckpoint(),
  whose blocks die with the DataFrame reference and never plan-match.
"""

import ast
from collections import Counter
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ethiopia_legal_etl_spark"

# modules allowed to hold a CacheManager entry, because every exit
# path unpersists before the builder returns (cache lifetime is
# strictly inside one invocation):
# - unigram.py: wf.cache() feeds seed + both E-steps, unpersisted at
#   EM end AND on the empty-seed early return (r14 honesty fix).
ALLOWED_WITH_UNPERSIST = {"operators/unigram.py"}


def method_calls(src: str) -> Counter:
    """Count of `<expr>.<name>(...)` call sites in ``src``, by name."""
    return Counter(
        node.func.attr
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
    )


def test_method_calls_ignores_comments_and_strings():
    src = (
        "# df.cache() in a comment\n"
        "doc = 'df.persist() then df.unpersist()'\n"
        "df.cache().count()\n"
    )
    calls = method_calls(src)
    assert (calls["cache"], calls["persist"], calls["unpersist"]) == (1, 0, 0)


def test_every_cache_or_persist_is_scoped():
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        calls = method_calls(py.read_text())
        n = calls["cache"] + calls["persist"]
        if rel in ALLOWED_WITH_UNPERSIST:
            assert n > 0, f"{rel}: allowlisted but no cache/persist left"
            assert calls["unpersist"], f"{rel}: cache without unpersist"
        elif n:
            offenders.append(f"{rel} ({n} unscoped cache/persist call(s))")
    assert not offenders, (
        "plan-matched cache without an unpersist pairing — use "
        "localCheckpoint() or allowlist with a documented pairing: "
        + ", ".join(offenders)
    )
