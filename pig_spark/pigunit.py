"""PigUnit-equivalent: unit-test a Pig Latin script with mocked inputs.

Parity with the reference's PigUnit harness
(`test/org/apache/pig/pigunit/PigTest.java`, SURVEY §5): a test
compiles a script, overrides aliases (typically replacing a LOAD with
small inline data), and asserts an alias's output against expected
tuple strings rendered Pig-style — ``(yahoo,25)``.

    t = PigTest(spark, '''
        data = LOAD 'input' AS (query:chararray, count:int);
        top  = ORDER data BY count DESC;
    ''')
    t.mock_alias('data', [('yahoo', 25), ('google', 15)],
                 'query:chararray, count:int')
    t.assert_output('top', ['(yahoo,25)', '(google,15)'], sort=False)

`override(alias, statement)` is the reference's textual statement
replacement (PigTest.override); `mock_alias` is the common
data-mocking case without touching the filesystem.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from .dsl import Relation
from .latin.translate import PigTranslator, RelInfo
from .pigtypes import parse_schema
from .render import render_rows


class PigAssertionError(AssertionError):
    pass


class PigTest:
    """≅ org.apache.pig.pigunit.PigTest."""

    def __init__(self, spark: SparkSession, script: str, args: list[str] | None = None):
        self.spark = spark
        self._script = script
        # args like PigUnit's String[] args: "name=value" params
        self.params = dict(a.split("=", 1) for a in (args or []))
        self._overrides: dict[str, str] = {}
        self._mocks: dict[str, Relation] = {}

    @staticmethod
    def from_file(spark: SparkSession, path: str, args: list[str] | None = None) -> "PigTest":
        with open(path) as fh:
            return PigTest(spark, fh.read(), args)

    # ------------------------------------------------------------------
    def override(self, alias: str, statement: str) -> None:
        """Replace the statement defining `alias` with `statement`
        (PigTest.override — textual substitution before parse)."""
        self._overrides[alias] = statement.rstrip().rstrip(";") + ";"

    def mock_alias(self, alias: str, rows: list, schema: str) -> None:
        """Bind `alias` to inline rows (the LOAD-mocking idiom —
        PigUnit's override of a LOAD with a constant relation).
        `schema` uses Pig AS-clause syntax: ``name:type, ...``, read
        as a LOAD reads it (bytearray holds text)."""
        self._mocks[alias] = Relation(self.spark.createDataFrame(rows, parse_schema(schema)))

    # ------------------------------------------------------------------
    def _run(self) -> PigTranslator:
        src = self._script
        for alias, stmt in self._overrides.items():
            # drop the original `alias = ...;` statement, inject override
            pat = re.compile(rf"^\s*{re.escape(alias)}\s*=[^;]*;", re.M | re.S)
            src = pat.sub(stmt, src, count=1)
        tr = PigTranslator(self.spark, params=dict(self.params))
        for alias, rel in self._mocks.items():
            tr.aliases[alias] = RelInfo(rel)
            # mocked alias wins: delete the script's own definition
            src = re.sub(rf"^\s*{re.escape(alias)}\s*=[^;]*;", "", src, count=1, flags=re.M | re.S)
        tr.run(src)
        return tr

    def get_alias(self, alias: str) -> Relation:
        return self._run().relation(alias)

    # ------------------------------------------------------------------
    def assert_output(self, alias: str, expected: list[str], sort: bool = True) -> None:
        """Compare `alias`'s rows, Pig-rendered, to expected strings
        (PigTest.assertOutput). sort=True ignores row order (Pig bags
        are unordered); pass sort=False after an ORDER BY."""
        actual = render_rows(self._run().relation(alias).df.collect())
        exp = [e.strip() for e in expected]
        a, e = (sorted(actual), sorted(exp)) if sort else (actual, exp)
        if a != e:
            raise PigAssertionError(f"alias '{alias}' mismatch:\n  expected: {e}\n  actual:   {a}")
