#!/usr/bin/env python3
"""Parent-vs-change differential of Extract's output.

Builds the tree at git revision REV (`git archive`) and the working tree,
each with its own `perfbench/build.py`, then runs one spark-shell script per
build. The script writes `Extract(...)` over TranscriptGen turns plus a
hostile set (cap-edge html/pdf, wrapper tags, blank and control-only text,
NULL text, `{` with and without a tool, escaped and spaced tool JSON), once
over a parquet-backed input (generated code) and once over a local relation
(interpreted eval), together with the output schema as `schema.json`. The
sorted outputs are compared in pyarrow, doubles as their int64 bits.

    python3 scripts/extract_diff.py REV [--work DIR] [--turns N]

Prints one JSON line {"rows", "mismatched_rows", "schema_equal"} and exits 1
on any difference.
"""
import argparse
import importlib.util
import io
import json
import os
import shutil
import struct
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent

# One spark-shell run: Extract over the generated turns plus the hostile
# set, parquet-backed and as a local relation. Only API present in every
# revision is used: Extract(df) and TranscriptGen.inputDf.
SHELL_SCRIPT = r"""
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

object ExtractDiffRun {
  def hostile: Seq[(String, String)] = {
    def html(blocks: Int, tail: String) = "<div>" + "<p>word</p>" * blocks + tail
    def pdf(runs: Int) = "%PDF-1\n" + (0 until runs).map(i => s"G ${i % 7} $i 9 r$i").mkString("\n")
    def wrapped(inner: String) = s"<$inner>\n%PDF-1\nG 1 2 3 a"
    val capHtml = Seq(999, 1000, 1001).flatMap(n =>
      Seq(html(n, ""), html(n, " \n "), html(n, "<p>past the cap</p>")))
    val capPdf = Seq(5000, 5001, 10000, 10001).map(pdf)
    val wrappers = Seq(199, 200, 201).flatMap(n =>
      Seq(wrapped("d" * n), wrapped("😀" * n)))
    val blank = Seq(null, "", " ", " \t\n\u000b\f\r ", "\u000b", "\f", "\r\n",
      "\u0000\u0001", (0 to 0x1f).map(_.toChar).mkString)
    val edges = Seq("\u007f", " \u007f ", " ", " x ", "😀",
      " 😀 x 😀\r\n", "<DIV>x</DIV>", "<!DOCTYPE HTML><P>x",
      "\u000b<P >x", "%PDF-1", "%PDF-1\nG bad\nG 1 2 3 ok", "<3 plain", "l23 O5 Z99")
    val json = Seq("{", "{\"a\":1}", " {\"output\":{\"text\":\"plain value\"}}",
      "{\"output\":{\"text\":\"an \\\"escaped\\\" value\\n\"}}",
      "{\"output\":{\"text\": \"spaced marker\"}}",
      "{\"text\":\"early\",\"output\":{\"text\":\"late\"}}",
      "{\"output\":{\"text\":\"😀 astral\"}}", "{\"output\":")
    (capHtml ++ capPdf ++ wrappers).map(_ -> (null: String)) ++
      (blank ++ edges ++ json).flatMap(t => Seq(t -> (null: String), t -> "search"))
  }

  def run(spark: SparkSession, out: String, turns: Long): Unit = {
    import spark.implicits._
    val gen = graft.gen.TranscriptGen.inputDf(spark, turns)
      .select("conv_id", "turn_idx", "text", "tool")
    val extra = hostile.zipWithIndex.map { case ((t, tool), i) => ("hostile", i, t, tool) }
      .toDF("conv_id", "turn_idx", "text", "tool")
    val input = gen.union(extra)
    input.write.mode("overwrite").parquet(s"$out/input")
    val parquetIn = spark.read.parquet(s"$out/input")
    val local = spark.createDataFrame(
      java.util.Arrays.asList(parquetIn.collect(): _*), parquetIn.schema)
    val fromParquet = graft.operators.Extract(parquetIn)
    fromParquet.write.mode("overwrite").parquet(s"$out/parquet")
    graft.operators.Extract(local).write.mode("overwrite").parquet(s"$out/local")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/schema.json"),
      fromParquet.schema.json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/_DONE"), "")
  }
}
ExtractDiffRun.run(spark, sys.env("EXTRACT_DIFF_OUT"), sys.env("EXTRACT_DIFF_TURNS").toLong)
sys.exit(0)
"""


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home)
    shell = shutil.which("spark-shell")
    if not shell:
        sys.exit("SPARK_HOME is unset and spark-shell is not on PATH")
    return Path(shell).resolve().parent.parent


def build(tree, build_dir):
    """Compile `tree` with its own perfbench/build.py; returns the classes dir."""
    spec = importlib.util.spec_from_file_location(
        f"build_{build_dir.name}", tree / "perfbench" / "build.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.build(root=tree, build_dir=build_dir)
    return build_dir / "classes"


def run_shell(classes, out, turns, script):
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    env = dict(os.environ, EXTRACT_DIFF_OUT=str(out), EXTRACT_DIFF_TURNS=str(turns))
    cmd = [str(spark_home() / "bin" / "spark-shell"), "--master", "local[2]",
           "--driver-memory", "2g", "--driver-class-path", str(classes),
           "--conf", "spark.ui.enabled=false",
           "--conf", "spark.sql.shuffle.partitions=4",
           "--conf", "spark.sql.session.timeZone=UTC", "-I", str(script)]
    log = out.parent / f"{out.name}.log"
    with open(log, "w") as f:
        subprocess.run(cmd, env=env, stdin=subprocess.DEVNULL, stdout=f,
                       stderr=subprocess.STDOUT, check=False)
    if not (out / "_DONE").exists():
        sys.exit(f"spark-shell run for {out.name} did not finish; see {log}")


def canonical(v):
    """Comparable form of one cell: doubles as int64 bits, containers deep."""
    if isinstance(v, float):
        return struct.unpack("<q", struct.pack("<d", v))[0]
    if isinstance(v, list):
        return [canonical(x) for x in v]
    if isinstance(v, dict):
        return {k: canonical(x) for k, x in v.items()}
    return v


def sorted_rows(path):
    table = pq.read_table(path).sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    return table.column_names, [canonical(r) for r in table.to_pylist()]


def compare(a_dir, b_dir):
    """(rows in b, mismatched rows, column names equal) for one output pair."""
    a_cols, a = sorted_rows(a_dir)
    b_cols, b = sorted_rows(b_dir)
    mismatched = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
    return len(b), mismatched, a_cols == b_cols


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev", help="git revision to compare the working tree against")
    ap.add_argument("--work", type=Path, help="scratch directory (default: a new temp dir)")
    ap.add_argument("--turns", type=int, default=40000, help="TranscriptGen turns")
    args = ap.parse_args()
    work = (args.work or Path(tempfile.mkdtemp(prefix="extract_diff-"))).resolve()
    work.mkdir(parents=True, exist_ok=True)

    base = work / "base-tree"
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir()
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", args.rev],
                             stdout=subprocess.PIPE, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(base)
    script = work / "extract_diff.scala"
    script.write_text(SHELL_SCRIPT)

    outs = {}
    for name, tree in (("base", base), ("change", ROOT)):
        classes = build(tree, work / f"{name}-build")
        outs[name] = work / f"{name}-out"
        run_shell(classes, outs[name], args.turns, script)

    rows = mismatched = 0
    schema_equal = (json.loads((outs["base"] / "schema.json").read_text()) ==
                    json.loads((outs["change"] / "schema.json").read_text()))
    for mode in ("parquet", "local"):
        n, bad, cols_equal = compare(outs["base"] / mode, outs["change"] / mode)
        rows += n
        mismatched += bad
        schema_equal = schema_equal and cols_equal
    print(json.dumps({"rows": rows, "mismatched_rows": mismatched,
                      "schema_equal": schema_equal}))
    sys.exit(0 if mismatched == 0 and schema_equal else 1)


if __name__ == "__main__":
    main()
