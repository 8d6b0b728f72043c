"""STREAM rel THROUGH 'cmd' AS schema (QueryParser.g:487,
POStream.java:43-127, impl/streaming/ExecutableManager.java).

Pig pipes tab-delimited rows through an external executable with async
stdin/stdout pumps. Spark equivalent: ``rdd.pipe`` — one process per
partition, rows serialized tab-delimited (Pig's PigStreaming default
serializer), output lines parsed back by the declared schema with
Pig-style cast-to-null on garbage.

Scale: one subprocess per partition, streaming both directions — the
same process model as Pig's per-task ExecutableManager. Repartition
first if the command benefits from more/fewer parallel instances
(Pig: PARALLEL clause).
"""

from __future__ import annotations

import os
import shlex
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pigtypes import utf8_decode


def _resolve_cmd(cmd: str, task_cwd: str) -> str:
    """Mirror ExecutableManager's script invocation tolerance: when the
    command's first token is a script file (absolute, or relative to
    the task cwd) that is NOT executable but carries a shebang, run it
    through its interpreter — the reference tree ships e.g. Split.pl
    invoked bare, relying on an exec bit a checkout may not preserve."""
    head, _, rest = cmd.strip().partition(" ")
    cand = head if os.path.isabs(head) else os.path.join(task_cwd, head)
    if os.path.isfile(cand) and not os.access(cand, os.X_OK):
        try:
            with open(cand, "rb") as fh:
                first = fh.readline()
        except OSError:
            return cmd
        if first.startswith(b"#!"):
            interp = first[2:].decode(errors="replace").strip().split()
            if interp and interp[0].endswith("/env"):
                interp = interp[1:]
            if interp:
                return " ".join([*interp, shlex.quote(cand), rest]).strip()
    return cmd


def _file_channel_runner(cmd: str, ship_paths: list[str], in_file: str | None, out_file: str | None):
    """Per-partition executor for STREAM commands with INPUT('file') /
    OUTPUT('file') channels: stage shipped files into a private task
    cwd, materialize the partition's lines as the named input file (or
    feed stdin), run the command, then read the named output file (or
    its stdout). Non-zero exit fails the task (POStream contract)."""

    def run_partition(lines):
        import os
        import shutil
        import subprocess
        import tempfile

        wd = tempfile.mkdtemp(prefix="pig_stream_task_")
        try:
            for p in ship_paths:
                shutil.copy(p, wd)
                os.chmod(os.path.join(wd, os.path.basename(p)), 0o755)
            data = "".join(ln + "\n" for ln in lines)
            stdin_data = None
            if in_file is not None:
                with open(os.path.join(wd, in_file), "w") as fh:
                    fh.write(data)
            else:
                stdin_data = data
            env = dict(os.environ)
            env["PATH"] = f".:{env.get('PATH', '')}"  # shipped bare names
            res = subprocess.run(
                _resolve_cmd(cmd, wd), shell=True, cwd=wd,
                input=stdin_data, capture_output=True, text=True, env=env,
            )
            if res.returncode != 0:
                raise RuntimeError(
                    f"STREAM command {cmd!r} exited {res.returncode}: "
                    f"{res.stderr[-500:]}"
                )
            if out_file is not None:
                out_p = os.path.join(wd, out_file)
                txt = open(out_p).read() if os.path.exists(out_p) else ""
            else:
                txt = res.stdout
            # drop only the final newline's empty element — interior
            # empty lines are real rows (an empty chararray field),
            # same as the stdio pipe path preserves them
            lines = txt.split("\n")
            if lines and lines[-1] == "":
                lines.pop()
            return lines
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    return run_partition


def stream_through(
    df: DataFrame,
    cmd: str,
    schema: str | T.StructType | None = None,
    ship: list[str] | None = None,
    serialize: Callable[[tuple], str] | None = None,
    deserialize: Callable[[str], Sequence[str | None]] | None = None,
    in_sep: str = "\t",
    out_sep: str = "\t",
    in_file: str | None = None,
    out_file: str | None = None,
) -> DataFrame:
    """``ship`` ≅ DEFINE ... SHIP('file') — distribute scripts/binaries
    via ``SparkContext.addFile``. On YARN/K8s, spark.files localize
    into the task working directory, so ``cmd`` invokes them as
    ``./name`` — exactly Pig's ship-to-task-cwd contract. (local mode
    keeps them under SparkFiles.getRootDirectory(); resolve with
    ``pyspark.SparkFiles.get(name)``.)

    ``serialize``/``deserialize`` are the PigStreamingBase hooks
    (PigStreamingBase.java — DEFINE ... INPUT(stdin USING serde)
    OUTPUT(stdout USING serde)): ``serialize(row_tuple) -> line`` fed
    to the command's stdin; ``deserialize(line) -> field strings``
    parsed from its stdout, each field then cast by the declared
    schema with Pig's cast-to-null (garbage never throws). Defaults =
    PigStreaming.java's tab-delimited contract, which stays in
    codegen on the serialize side; custom hooks run in the pipe's
    per-partition Python stage, which the pipe already occupies — no
    extra plan hop either way."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    spark = df.sparkSession
    # NOTE: deliberately NOT sc.addFile — Spark registers added files
    # by BASENAME for the context's whole lifetime, so two scripts
    # shipping same-named files from different directories (a common
    # reference-corpus shape) poison every later task with "exists and
    # does not match contents". Shipping is done by staging the files
    # into a per-stream task cwd below; on a real cluster, submit the
    # scripts via spark.files/--files once, globally.
    ship_paths = [os.path.abspath(p) for p in ship or []]

    if serialize is None:
        # delimited text, null → empty field (PigStreaming.java with
        # its delimiter argument) — pure Column ops; complex columns
        # render in Pig's text forms ([k#v], (a,b), {(a,b)}) so the
        # command sees what PigStorage would write (and utf8_decode can
        # parse the declared types back from its stdout)
        from ..sources import pig_text_lines

        serialized = pig_text_lines(df, in_sep).rdd.map(lambda r: r[0])
    else:
        ser = serialize
        serialized = df.rdd.map(lambda row: ser(tuple(row)))
    # The command runs through a SHELL (Pig's ExecutableManager wraps
    # commands likewise), so pipelines/redirection in backticks work —
    # `cut -f 1 | sort` is a reference e2e shape.
    #
    # Task cwd contract: Pig localizes every SHIPped file into the
    # task's working directory and runs the command there, so
    # `perl script.pl` resolves by relative name. With ship files we
    # reproduce that exactly: stage them into a scratch dir and cd
    # there (driver-built; local mode shares the FS — on a cluster
    # addFile localizes the same names, per the docstring). Without
    # ship, cd to the launching process's cwd (relative scripts that
    # simply sit next to the user's session).
    if ship_paths:
        import atexit
        import shutil
        import tempfile

        task_cwd = tempfile.mkdtemp(prefix="pig_stream_cwd_")
        # the staging dir must outlive this call (the lazily-evaluated
        # RDD pipe reads it at action time), so clean up at process
        # exit — mirroring _file_channel_runner's per-partition rmtree
        atexit.register(shutil.rmtree, task_cwd, ignore_errors=True)
        for p in ship_paths:
            shutil.copy(p, task_cwd)
            os.chmod(os.path.join(task_cwd, os.path.basename(p)), 0o755)
    else:
        task_cwd = os.getcwd()

    if in_file is not None or out_file is not None:
        # INPUT('file') / OUTPUT('file') channels (POStream file
        # channels): the command reads its input from / writes its
        # output to a NAMED FILE in the task cwd rather than
        # stdin/stdout. rdd.pipe only speaks stdio, so this path runs
        # the command per partition with a private staging cwd —
        # same per-task process model, one extra Python hop.
        piped = serialized.mapPartitions(
            _file_channel_runner(cmd, ship_paths, in_file, out_file)
        )
    else:
        # checkCode: non-zero exit of the external command fails the
        # job, as Pig's ExecutableManager does (POStream contract).
        # Task cwd joins PATH so shipped scripts resolve by bare name.
        shell_cmd = (
            f"cd {shlex.quote(task_cwd)} 2>/dev/null; "
            f'PATH=".:$PATH"; {_resolve_cmd(cmd, task_cwd)}'
        )
        piped = serialized.pipe(f"/bin/sh -c {shlex.quote(shell_cmd)}", checkCode=True)
    deser = deserialize if deserialize is not None else (lambda line, d=out_sep: line.split(d))
    if schema is None:
        # STREAM without AS (QueryParser.g stream_clause): untyped
        # output, arity discovered at runtime — sample the first
        # output line (one partial job over partition 0; Pig discovers
        # the same shape tuple-by-tuple) and land every field as a
        # string ($N positional access, bytearray gradual typing)
        try:
            first_line = piped.first()
        except ValueError:  # genuinely empty output ("RDD is empty")
            first_line = ""
        # anything else (Py4JJavaError: non-zero exit, missing
        # command) propagates — a failing command must fail the job
        # (POStream contract), not read as an empty stream
        n = max(1, len(list(deser(first_line))))
        schema = T.StructType([T.StructField(f"_c{i}", T.StringType(), True) for i in range(n)])
    n_fields = len(schema.fields)
    split_rows = piped.map(lambda line: (list(deser(line)) + [None] * n_fields)[:n_fields])
    str_schema = T.StructType([T.StructField(f.name, T.StringType(), True) for f in schema.fields])
    raw = spark.createDataFrame(split_rows, schema=str_schema)
    # Pig LoadCaster semantics: cast each field, null on failure —
    # try_cast for scalars (never .cast: plain cast raises on garbage
    # under an ANSI-on session); Pig's textual forms ([k#v], (a,b),
    # {(a,b)}) for complex declared types.
    return raw.select(*[utf8_decode(F.col(f.name), f.dataType).alias(f.name) for f in schema.fields])
