"""pig_spark.pigtypes — the one Pig↔Spark type module — and the
FLATTEN … AS lowerings that cast through it."""

import pytest
from pyspark.sql import types as T

from pig_spark.latin import run
from pig_spark.pigtypes import ddl, parse, parse_schema, pig_type_name

S = T.StringType()


@pytest.mark.parametrize(
    "text, want",
    [
        ("int", "int"),
        ("BIGINTEGER", "decimal(38,0)"),
        ("bytearray", "string"),
        ("tuple(int,chararray)", "struct<f0:int,f1:string>"),
        ("(a:int, b)", "struct<a:int,b:string>"),
        ("tuple()", "struct<>"),
        ("bag{t:(x:int,y:long)}", "array<struct<x:int,y:bigint>>"),
        ("bag{t:tuple(x:int)}", "array<struct<x:int>>"),
        ("bag{tuple(chararray, int)}", "array<struct<f0:string,f1:int>>"),
        ("{(x:int)}", "array<struct<x:int>>"),
        ("bag{}", "array<struct<t:string>>"),
        ("map[]", "map<string,string>"),
        ("map[int]", "map<string,int>"),
        ("[]", "map<string,string>"),
        ("(m:map[bag{}], t:tuple(d:datetime))", "struct<m:map<string,array<struct<t:string>>>,t:struct<d:timestamp>>"),
    ],
)
def test_parse(text, want):
    assert ddl(text) == want


def test_parse_schema_and_errors():
    assert parse_schema("a:bytearray, n:int, m") == T.StructType(
        [T.StructField("a", S), T.StructField("n", T.IntegerType()), T.StructField("m", S)]
    )
    with pytest.raises(ValueError, match="unknown type"):
        parse("a:nosuchtype")
    with pytest.raises(ValueError, match="expected"):
        parse("tuple(int")
    with pytest.raises(ValueError, match="expected a field name"):
        parse("(a,,b)")


def test_grammar_hands_type_text_to_the_parser():
    """The Latin grammar only finds where a type ends and passes its
    source text on; pigtypes reads it, so both accept the same types
    (a bare nested tuple too) and a bad type is a SyntaxError."""
    from pig_spark.latin.grammar import parse as parse_latin

    script = "a = LOAD 'x' AS (t:tuple(tuple(int)), b:BAG{t:(x:int)}, m:[], n:int, c);"
    fields = parse_latin(script).statements[0].op.schema
    assert [(f.name, f.type) for f in fields] == [
        ("t", "tuple(tuple(int))"), ("b", "BAG{t:(x:int)}"), ("m", "[]"), ("n", "int"), ("c", None),
    ]
    assert ddl(fields[0].type) == "struct<f0:struct<f0:int>>"
    cast = parse_latin("b = FOREACH a GENERATE (bag{tuple(int)})x;").statements[0].op.items[0].expr
    assert cast.type == "bag{tuple(int)}"
    for bad in ("(t:tuple(int, z:nosuchtype))", "(t:nosuchtype)", "(t:map[int)"):
        with pytest.raises(SyntaxError):
            parse_latin(f"a = LOAD 'x' AS {bad};")


def test_printer_keeps_describe_vocabulary():
    """DESCRIBE's names for types it printed correctly before the
    printer moved here."""
    assert pig_type_name(T.ShortType()) == "int"
    assert pig_type_name(T.DateType()) == "datetime"
    assert pig_type_name(T.BinaryType()) == "bytearray"
    assert pig_type_name(T.DecimalType(10, 2)) == "bigdecimal"
    assert pig_type_name(T.DecimalType(38, 0)) == "biginteger"
    assert pig_type_name(T.ArrayType(T.IntegerType())) == "{(int)}"
    assert pig_type_name(parse("bag{t:(x:int,m:map[long])}")) == "{(x: int,m: map[long])}"


A = "a = LOAD '{src}' AS (x:int, y:int);"
# one script per FLATTEN … AS lowering; {as} is the AS schema and the
# number is how many columns the flatten produces
FLATTEN_PATHS = {
    "foreach": (A + "b = FOREACH a GENERATE FLATTEN(TOTUPLE(x, y)) AS {as};", 2),
    "foreach_agg": (A + "g = GROUP a BY x; b = FOREACH g GENERATE FLATTEN(COR(a.x, a.y)) AS {as};", 3),
    "foreach_agg_group": (A + "g = GROUP a BY (x, y); b = FOREACH g GENERATE FLATTEN(group) AS {as}, COUNT(a) AS n;", 2),
    "nested_flatten": (A + "g = GROUP a BY x; b = FOREACH g {{ s = FILTER a BY y > 0; GENERATE FLATTEN(s) AS {as}; }};", 2),
    "nested_topk": (A + "g = GROUP a BY x; b = FOREACH g {{ o = ORDER a BY y DESC; l = LIMIT o 1; GENERATE FLATTEN(l) AS {as}; }};", 2),
    "nforeach_flatten_pipe": (
        A + "g = GROUP a BY x; b = FOREACH g {{ t = FOREACH a GENERATE FLATTEN(TOBAG(TOTUPLE(x, y))) AS {as}; "
        "GENERATE FLATTEN(t); }};",
        2,
    ),
    "nested_multiflatten": (
        A + "g = GROUP a BY x; b = FOREACH g {{ s = FILTER a BY y > 0; t = FILTER a BY y > 10; "
        "GENERATE FLATTEN(s) AS {as}, FLATTEN(t); }};",
        2,
    ),
    "stitch": (
        A + "a1 = FOREACH a GENERATE y; g = GROUP a1 BY y; b = FOREACH g {{ s = ORDER a1 BY y; "
        "GENERATE FLATTEN(Stitch(s, Over(s.y, 'row_number'))) AS {as}; }};",
        2,
    ),
}


@pytest.mark.parametrize("path", sorted(FLATTEN_PATHS))
def test_flatten_as_types_and_arity(spark, tmp_path, path):
    """Every FLATTEN … AS lowering names and casts the flattened
    columns by position, and rejects a schema of the wrong width with
    the same error."""
    src = tmp_path / "xy.tsv"
    src.write_text("1\t10\n1\t11\n2\t20\n")
    script, width = FLATTEN_PATHS[path]
    extra = "".join(f", c{i}" for i in range(width - 2))
    df = run(spark, script.format(src=src, **{"as": f"(a:long, b:chararray{extra})"}))["b"].df
    types = dict(df.dtypes)
    assert (types["a"], types["b"]) == ("bigint", "string")
    df.collect()
    with pytest.raises(ValueError, match=f"FLATTEN AS schema has {width + 1} fields, got {width} columns"):
        run(spark, script.format(src=src, **{"as": f"(a:long, b:chararray{extra}, z)"}))


def test_nested_describe_prints_pig_type_names(spark, tmp_path):
    """DESCRIBE of a nested alias (describe C::E) names types as Pig
    does, through the one printer — not by Spark's names."""
    from pig_spark.latin import translator

    src = tmp_path / "s.tsv"
    src.write_text("a\t20\nb\t30\n")
    tr = translator(spark)
    tr.run(f"""
        A = LOAD '{src}' AS (name:chararray, age:long);
        B = GROUP A BY name;
        C = FOREACH B {{ E = ORDER A BY age; GENERATE COUNT(E) AS n, group; }};
    """)
    assert tr.nested_schemas["C::E"] == "{(name: chararray, age: long)}"


def test_stream_decodes_to_the_declared_spark_type(spark):
    """STREAM decodes its output with the Spark types it was given: a
    bag of scalars stays a bag of scalars, map values keep their
    decimal type."""
    from pig_spark.operators.stream import stream_through

    df = spark.createDataFrame([("{(1),(2)}", "[a#1.5]")], "b string, m string")
    out = stream_through(df, "cat", "b array<int>, m map<string,decimal(10,2)>")
    assert out.dtypes == [("b", "array<int>"), ("m", "map<string,decimal(10,2)>")]
    row = out.first()
    assert row["b"] == [1, 2] and str(row["m"]["a"]) == "1.50"
