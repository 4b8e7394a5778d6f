"""The closed-loop workloads of the KG-construction benchmark.

Each workload owns one directory under the run's work dir and exposes:

* ``setup()``      -- corpus generation (timed as ``setup_s``; run several
                      times per invocation);
* ``reference()``  -- the outputs checks compare against, computed once
                      after the set-ups (not part of ``setup_s``);
* ``iterate(i, span)`` -- ONE timed batch job, input to committed result;
                      returns the number of valid quads it emitted or
                      committed. ``span(name)`` is the benchmark's
                      call-site span;
* ``check(i, quads)`` -- seed-independent output checks; raises
                      ``CheckFailed`` on any mismatch;
* ``cleanup(i)``   -- remove iteration ``i``'s output.

``check`` and ``cleanup`` run outside the timed region.

The program only ever sees generated inputs: page ids come from the window
``[seed * 10**9, seed * 10**9 + n)`` passed to ``datagen.page_for``.
"""

from __future__ import annotations

import glob
import io
import json
import os
import shutil
from contextlib import redirect_stdout

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from nabu_spark.datagen import page_for

WINDOW = 10**9
QUAD_COLS = ["subj", "pred", "obj", "prov"]
# datagen.PAGES_SCHEMA as an Arrow schema
PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


class CheckFailed(AssertionError):
    """An iteration's output did not match its reference."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def write_pages(path: str, first: int, n: int,
                structured_fraction: float = 0.0, parts: int = 8) -> None:
    """Generate pages ``first .. first+n-1`` into a parquet table of
    ``parts`` files, driver-side (no Spark job, no Python worker)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    bounds = [first + n * k // parts for k in range(parts + 1)]
    for k in range(parts):
        rows = [page_for(i, structured_fraction) for i in range(bounds[k], bounds[k + 1])]
        pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def multiset_hash(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(rows, order-free sum of per-row xxhash64) -- equal for equal
    multisets of rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def url_hash(df: DataFrame) -> tuple[int, int, int]:
    """(rows, distinct urls, url hash sum) in one aggregation."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("d"),
        F.sum(F.xxhash64("url").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["d"]), int(row["h"] or 0)


def file_bytesum(paths: list[str]) -> int:
    """Sum of byte values over whole files, mod 2**64 -- an independent
    re-computation of a release's bytesum sidecar."""
    total = 0
    for p in paths:
        with open(p, "rb") as fh:
            total += int(np.frombuffer(fh.read(), dtype=np.uint8).sum(dtype=np.uint64))
    return total % (1 << 64)


class Workload:
    name = ""
    pages = 0

    def __init__(self, spark: SparkSession, work: str, seed: int, cores: int):
        self.spark = spark
        self.dir = os.path.join(work, self.name)
        self.first = seed * WINDOW
        self.cores = cores
        self.n = self.pages
        self.counters: dict[str, float] = {}  # per-layer counts, traced run
        os.makedirs(self.dir, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        pass

    def iterate(self, i: int, span) -> int:
        raise NotImplementedError

    def check(self, i: int, quads: int) -> None:
        raise NotImplementedError

    def cleanup(self, i: int) -> None:
        pass


class HarvestRelease(Workload):
    """``nabu-spark harvest`` then ``release`` in-process, CLI defaults."""

    name = "harvest_release"
    pages = 2000

    def setup(self) -> None:
        write_pages(self.path("pages"), self.first, self.n)

    def reference(self) -> None:
        from nabu_spark.pipeline import pages_to_quads_fused

        pages = self.spark.read.parquet(self.path("pages"))
        self.ref_urls = url_hash(pages)
        fused = pages_to_quads_fused(pages, salt=False).filter(
            F.col("error_code").isNull())
        self.ref_quads = multiset_hash(fused, QUAD_COLS)

    def out(self, i: int) -> str:
        return self.path(f"run{i}")

    def _cli(self, argv: list[str]) -> tuple[int, dict]:
        from nabu_spark import cli

        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = cli.main(["--cores", str(self.cores)] + argv)
        text = buf.getvalue()
        print(text, end="")  # the CLI's own lines go to the run log
        lines = [ln for ln in text.splitlines() if ln.startswith("{")]
        return rc, (json.loads(lines[-1]) if lines else {})

    def iterate(self, i: int, span) -> int:
        out = self.out(i)
        with span("cli.main", command="harvest"):
            rc_h, _ = self._cli(["harvest", "--pages", self.path("pages"),
                                 "--out", out])
        with span("cli.main", command="release"):
            rc_r, summary = self._cli(["release", "--docs", out, "--out", out])
        # harvest exits 3 when some pages failed, which the corpus has
        expect(rc_h in (0, 3), f"harvest exit code {rc_h}")
        expect(rc_r == 0, f"release exit code {rc_r}")
        return int(summary.get("quads", -1))

    def check(self, i: int, quads: int) -> None:
        out = self.out(i)
        spark = self.spark
        got = multiset_hash(
            spark.read.parquet(os.path.join(out, "quads"))
            .filter(F.col("error_code").isNull()), QUAD_COLS)
        expect(got == self.ref_quads,
               f"release quads {got} != fused quads {self.ref_quads}")
        expect(quads == got[0], f"release reported {quads} quads, table has {got[0]}")
        expect(url_hash(spark.read.parquet(os.path.join(out, "docs"))) == self.ref_urls,
               "docs/ does not hold every page url exactly once")
        sidecars = {}
        for part in glob.glob(os.path.join(out, "bytesums", "part-*")):
            with open(part) as fh:
                for line in fh:
                    row = json.loads(line)
                    sidecars[row["release_name"]] = int(row["bytesum"])
        graphs = os.path.join(out, "graphs")
        names = {os.path.basename(d).split("=", 1)[1]
                 for d in glob.glob(os.path.join(graphs, "release_name=*"))}
        expect(names == set(sidecars), "release graphs and bytesum sidecars differ")
        n_files = 0
        for name, want in sidecars.items():
            files = glob.glob(os.path.join(graphs, f"release_name={name}", "part-*"))
            expect(file_bytesum(files) == want, f"bytesum mismatch for {name}")
            n_files += len(files)
        self.counters["release.files"] = n_files

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.out(i), ignore_errors=True)


class FusedMixed(Workload):
    """The fused single-UDF kernel over a 30% microdata/RDFa corpus."""

    name = "fused_mixed"
    pages = 24000
    ref = None  # the first checked iteration's counts and hash

    def setup(self) -> None:
        write_pages(self.path("pages"), self.first, self.n,
                    structured_fraction=0.3)

    def iterate(self, i: int, span) -> int:
        from nabu_spark.pipeline import pages_to_quads_fused

        with span("pipeline.pages_to_quads_fused"):
            quads = pages_to_quads_fused(
                self.spark.read.parquet(self.path("pages")),
                fallback_structured=True, salt=False)
            rows = quads.groupBy("error_code").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*QUAD_COLS).cast("decimal(38,0)")).alias("h"),
            ).collect()
        self.last = sorted((r["error_code"] or "", int(r["n"]), int(r["h"] or 0))
                           for r in rows)
        return sum(n for code, n, _ in self.last if code == "")

    def check(self, i: int, quads: int) -> None:
        expect(quads > 0, "fused kernel emitted no quads")
        if self.ref is None:
            self.ref = self.last
        expect(self.last == self.ref,
               "triple count, error counts or quad hash changed between iterations")


WORKLOADS = {w.name: w for w in (HarvestRelease, FusedMixed)}
