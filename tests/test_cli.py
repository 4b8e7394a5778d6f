"""CLI lifecycle smoke: harvest -> release -> pull through the packaged
entry point (same code path spark-submit --py-files executes; the full
spark-submit invocation is documented in jobs/run.py and exercised in
BENCH runs)."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(args: list[str], timeout: int = 300) -> tuple[int, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    out = subprocess.run(
        [sys.executable, "-m", "nabu_spark.cli", "--cores", "4", *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=REPO,
        env=env,
    )
    return out.returncode, out.stdout


@pytest.mark.slow
def test_cli_lifecycle(spark, tmp_path):
    from nabu_spark.datagen import generate_mainstems, generate_pages

    pages = str(tmp_path / "pages")
    run_dir = str(tmp_path / "run")
    generate_pages(spark, 80).write.parquet(pages)
    generate_mainstems(spark).write.parquet(str(tmp_path / "mainstems"))

    rc, out = run_cli(["harvest", "--pages", pages, "--out", run_dir, "--no-salt"])
    payload = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert payload["sites"] == 80
    # reference semantics: exit 3 when any site failed (the generator plants some)
    assert payload["failed"] > 0 and rc == 3
    # the summary line equals the per-sitemap stats it wrote, summed
    stats = []
    for f in glob.glob(os.path.join(run_dir, "stats", "*.json")):
        with open(f) as fh:
            stats.extend(json.loads(line) for line in fh if line.strip())
    assert stats
    assert (payload["sites"], payload["ok"], payload["failed"]) == (
        sum(s["sites_in_sitemap"] for s in stats),
        sum(s["successful_sites"] for s in stats),
        sum(s["crawl_failures"] for s in stats),
    )

    rc, out = run_cli(
        ["release", "--docs", run_dir, "--out", run_dir, "--mainstems", str(tmp_path / "mainstems")]
    )
    assert rc == 0
    payload = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert payload["quads"] > 0

    dest = str(tmp_path / "pulled")
    rc, out = run_cli(["pull", "--release-dir", run_dir, "--dest", dest])
    assert rc == 0
    p1 = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert p1["pulled"] > 0 and p1["skipped"] == 0
    # second pull skips everything via bytesum compare; --concat merges the
    # whole corpus (minus prov graphs) into one bulk-load file
    concat_file = str(tmp_path / "all.nq")
    rc, out = run_cli(
        ["pull", "--release-dir", run_dir, "--dest", dest, "--concat", concat_file]
    )
    p2 = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert p2["pulled"] == 0 and p2["skipped"] == p1["pulled"]
    assert p2["concatenated"] > 0
    # concat file = union of all non-prov pulled release files
    release_lines = set()
    for f in os.listdir(dest):
        if f.endswith(".nq") and not f.endswith("_prov.nq"):
            with open(os.path.join(dest, f)) as fh:
                release_lines.update(l for l in fh.read().splitlines() if l)
    with open(concat_file) as fh:
        concat_lines = set(l for l in fh.read().splitlines() if l)
    assert concat_lines == release_lines and concat_lines
    # pulled release files are valid N-Quads
    files = [f for f in os.listdir(dest) if f.endswith(".nq")]
    assert files
    with open(os.path.join(dest, files[0])) as f:
        line = f.readline().strip()
    assert line.endswith(" .") and line.startswith("<")


@pytest.mark.slow
def test_cli_validate(spark, tmp_path):
    from nabu_spark.datagen import generate_pages
    from nabu_spark.pipeline import pages_to_quads_fused

    quads_path = str(tmp_path / "quads")
    pages_to_quads_fused(generate_pages(spark, 40), salt=False).write.parquet(
        quads_path
    )
    shapes_path = str(tmp_path / "shapes.ttl")
    with open(shapes_path, "w") as fh:
        fh.write(
            """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://t.org/shapes#> .
ex:PlaceShape a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:property [ sh:path schema:name ; sh:minCount 1 ;
                  sh:datatype xsd:string ] .
"""
        )
    out_dir = str(tmp_path / "val")
    rc, out = run_cli(
        ["validate", "--quads", quads_path, "--shapes", shapes_path,
         "--out", out_dir]
    )
    assert rc == 0, out
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["cmd"] == "validate"
    assert summary["graphs"] > 0
    report = spark.read.parquet(os.path.join(out_dir, "shacl_report"))
    assert set(report.columns) == {
        "prov", "conforms", "n_violations", "n_warnings", "violations"
    }


@pytest.mark.slow
def test_cli_full_dag(spark, tmp_path):
    from nabu_spark.datagen import generate_mainstems, generate_pages

    pages = str(tmp_path / "pages")
    run_dir = str(tmp_path / "run")
    dest = str(tmp_path / "pulled")
    generate_pages(spark, 60).write.parquet(pages)
    generate_mainstems(spark).write.parquet(str(tmp_path / "mainstems"))
    rc, out = run_cli(
        ["full", "--pages", pages, "--out", run_dir, "--dest", dest,
         "--mainstems", str(tmp_path / "mainstems"), "--no-salt"],
        timeout=600,
    )
    assert rc == 0, out
    lines = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    cmds = [l["cmd"] for l in lines]
    assert cmds[:3] == ["harvest", "release", "geo"]
    assert cmds[-1] == "full"
    assert any(f.endswith(".nq") for f in os.listdir(dest))
    assert os.path.exists(os.path.join(run_dir, "geo"))


@pytest.mark.slow
def test_cli_bulk_then_release(spark, tmp_path):
    """Bulk NDJSON docs flow into the same release stage as crawled pages
    (sitemap_bulk.go lifecycle)."""
    import json as _json

    from nabu_spark.datagen import make_place_doc

    nd = tmp_path / "docs.ndjson"
    with open(nd, "w") as fh:
        for i in range(12):
            doc = make_place_doc(i)
            doc["@id"] = f"https://bulk.example.org/feature/{i}"
            fh.write(_json.dumps(doc) + "\n")
        fh.write('{"no_id": true}\n')
    run_dir = str(tmp_path / "run")
    rc, out = run_cli(["bulk", "--ndjson", str(nd), "--sitemap-id", "bulksrc",
                       "--out", run_dir])
    assert rc == 0, out
    payload = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert payload["docs"] == 12 and payload["errors"] == 1
    rc, out = run_cli(["release", "--docs", run_dir, "--out", run_dir])
    assert rc == 0, out
    payload = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert payload["quads"] > 0
    graphs = os.listdir(os.path.join(run_dir, "graphs"))
    assert any("bulksrc" in g for g in graphs)


@pytest.mark.slow
def test_cli_query(spark, tmp_path):
    quads = spark.createDataFrame(
        [
            ("<urn:d:1>", "<urn:p:lang>", '"en"', "<urn:g:1>"),
            ("<urn:d:2>", "<urn:p:lang>", '"de"', "<urn:g:2>"),
            ("<urn:d:1>", "<urn:p:links>", "<urn:d:2>", "<urn:g:1>"),
        ],
        "subj string, pred string, obj string, prov string",
    )
    qpath = str(tmp_path / "quads")
    quads.write.parquet(qpath)
    rq = tmp_path / "q.rq"
    rq.write_text(
        "PREFIX p: <urn:p:> SELECT ?d ?l WHERE "
        '{ ?d p:links ?o . ?o p:lang ?l } ORDER BY ?d'
    )
    out = str(tmp_path / "res")
    code, stdout = run_cli(
        ["query", "--quads", qpath, "--sparql-file", str(rq), "--out", out]
    )
    assert code == 0, stdout
    payload = json.loads(stdout.strip().splitlines()[-1])
    assert payload == {"cmd": "query", "rows": 1, "cols": ["d", "l"]}
    row = spark.read.parquet(out).first()
    assert (row.d, row.l) == ("<urn:d:1>", '"de"')

    # inline CONSTRUCT printed to stdout
    code, stdout = run_cli(
        ["query", "--quads", qpath, "--sparql",
         "PREFIX p: <urn:p:> CONSTRUCT { ?d <urn:out:l> ?l } "
         "WHERE { ?d p:lang ?l }"]
    )
    assert code == 0, stdout
    lines = stdout.strip().splitlines()
    assert any("<urn:out:l>" in ln for ln in lines)
    assert json.loads(lines[-1])["cols"] == ["subj", "pred", "obj"]


@pytest.mark.slow
def test_cli_store(spark, tmp_path):
    quads = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", '"1"', None),
         ("<urn:b>", "<urn:p>", '"2"', "<urn:g1>")],
        "subj string, pred string, obj string, prov string",
    )
    qpath = str(tmp_path / "quads")
    quads.write.parquet(qpath)
    store = str(tmp_path / "gs")

    code, stdout = run_cli(["store", "init", "--store", store,
                            "--quads", qpath])
    assert code == 0, stdout
    assert json.loads(stdout.strip().splitlines()[-1])["version"] == 1

    ru = tmp_path / "u.ru"
    ru.write_text('DELETE DATA { <urn:a> <urn:p> "1" } ; '
                  'INSERT DATA { <urn:c> <urn:p> "3" }')
    code, stdout = run_cli(["store", "update", "--store", store,
                            "--sparql-file", str(ru)])
    assert code == 0, stdout

    out = str(tmp_path / "res")
    code, stdout = run_cli(["store", "query", "--store", store, "--sparql",
                            "SELECT ?s WHERE { ?s <urn:p> ?o } ORDER BY ?s",
                            "--out", out])
    assert code == 0, stdout
    rows = sorted(r.s for r in spark.read.parquet(out).collect())
    assert rows == ["<urn:b>", "<urn:c>"]

    # rollback to the seed version restores <urn:a>
    code, stdout = run_cli(["store", "rollback", "--store", store,
                            "--to-version", "1"])
    assert code == 0, stdout
    code, stdout = run_cli(["store", "query", "--store", store, "--sparql",
                            "SELECT ?s WHERE { ?s <urn:p> "'"1"'" }"])
    assert code == 0, stdout
    assert "<urn:a>" in stdout


@pytest.mark.slow
def test_cli_query_csv_tsv_formats(spark, tmp_path):
    quads = spark.createDataFrame(
        [("<urn:d:1>", "<urn:p:lang>", '"en"', None),
         ("<urn:d:2>", "<urn:p:lang>", '"de"', None)],
        "subj string, pred string, obj string, prov string",
    )
    qpath = str(tmp_path / "quads")
    quads.write.parquet(qpath)
    q = "PREFIX p: <urn:p:> SELECT ?d ?l WHERE { ?d p:lang ?l } ORDER BY ?d"

    code, stdout = run_cli(
        ["query", "--quads", qpath, "--sparql", q, "--format", "csv"])
    assert code == 0, stdout
    assert stdout.splitlines()[0] == "d,l"
    assert "urn:d:1,en" in stdout

    code, stdout = run_cli(
        ["query", "--quads", qpath, "--sparql", q, "--format", "tsv"])
    assert code == 0, stdout
    assert stdout.splitlines()[0] == "?d\t?l"
    assert '<urn:d:2>\t"de"' in stdout

    # --out + a print format is a usage error
    code, stdout = run_cli(
        ["query", "--quads", qpath, "--sparql", q, "--format", "csv",
         "--out", str(tmp_path / "res")])
    assert code == 2


@pytest.mark.slow
def test_cli_query_ask_csv_is_json_error(spark, tmp_path):
    quads = spark.createDataFrame(
        [("<urn:d:1>", "<urn:p:lang>", '"en"', None)],
        "subj string, pred string, obj string, prov string",
    )
    qpath = str(tmp_path / "quads")
    quads.write.parquet(qpath)
    code, stdout = run_cli(
        ["query", "--quads", qpath, "--sparql",
         "ASK { ?s ?p ?o }", "--format", "csv"])
    assert code == 2
    assert "error" in json.loads(stdout.strip().splitlines()[-1])
