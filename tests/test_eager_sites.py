"""Census of the eager actions in ``rasterkit_spark/operators``: every
checkpoint, cache, count, collect and the like either goes through
``plans/materialize.py`` or says why not in a ``# eager:`` comment on
its line or the line above."""

import io
import pathlib
import tokenize

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "rasterkit_spark"
EAGER = {"localCheckpoint", "cache", "persist", "count", "first", "collect",
         "isEmpty", "toPandas"}
# methods that are eager only when called with no argument
NO_ARGS = {"count", "first", "collect", "isEmpty", "toPandas"}


def _opener(toks, i):
    """Index of the token before the '(' that the ')' at i closes."""
    depth = 0
    for j in range(i, -1, -1):
        if toks[j].string == ")":
            depth += 1
        elif toks[j].string == "(":
            depth -= 1
            if depth == 0:
                return j - 1
    return -1


def eager_sites(source: str):
    """(line, method) of every eager call in ``source``, comments and
    strings excluded.  ``groupBy(...).count()`` is a lazy grouped count,
    not an action."""
    toks = [t for t in tokenize.generate_tokens(io.StringIO(source).readline)
            if t.type not in (tokenize.NL, tokenize.NEWLINE,
                              tokenize.COMMENT, tokenize.INDENT,
                              tokenize.DEDENT)]
    for i in range(1, len(toks) - 2):
        name = toks[i].string
        if (toks[i].type != tokenize.NAME or name not in EAGER
                or toks[i - 1].string != "." or toks[i + 1].string != "("):
            continue
        if name in NO_ARGS and toks[i + 2].string != ")":
            continue
        if name == "count" and toks[i - 2].string == ")":
            j = _opener(toks, i - 2)
            if j >= 0 and toks[j].string == "groupBy":
                continue
        yield toks[i].start[0], name


def _unexplained(path: pathlib.Path):
    source = path.read_text()
    lines = source.splitlines()
    for line, name in eager_sites(source):
        here = lines[line - 1]
        above = lines[line - 2] if line > 1 else ""
        if "# eager:" not in here + above:
            yield f"{path.relative_to(PACKAGE.parent)}:{line}: .{name}()"


def test_census_finds_eager_calls_only_in_code():
    src = ('a = df.count()\n'
           'b = df.groupBy("k").count()\n'
           'c = df.groupBy(F.col("k")).count().count()\n'
           '# df.collect()\n'
           's = "x.first()"\n'
           'd = df.localCheckpoint(eager=True)\n'
           'e = df.first\n')
    assert list(eager_sites(src)) == [(1, "count"), (3, "count"),
                                      (6, "localCheckpoint")]


def test_every_operator_eager_call_is_materialized_or_explained():
    offenders = [o for path in sorted((PACKAGE / "operators").glob("*.py"))
                 for o in _unexplained(path)]
    assert not offenders, (
        "eager calls without plans.materialize or a '# eager:' reason:\n"
        + "\n".join(offenders))
