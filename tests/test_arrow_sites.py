"""Row-wise mapInArrow bodies go through extract_job.doc_batches: a hand-built
``RecordBatch.from_arrays`` under crystal_html5_spark/ is allowed only at
the sites below, none of which maps one input row to output rows."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "crystal_html5_spark"

ALLOWED = {
    ("sparkjob/extract_job.py", "doc_batches.out_batch"):
        "the per-row operator itself",
    ("sparkjob/queries.py", "_lsh_bucketize_arrow"):
        "vectorized numpy over the whole batch, no per-row loop",
    ("sparkjob/queries.py", "_warc_extract_pages_impl.to_warc"):
        "one WARC blob per input batch",
    ("sparkjob/queries.py", "_wat_extract_meta.to_wat"):
        "one WAT blob per input batch",
    ("sparkjob/warcio.py", "_segment_sink.emit"):
        "one row count per partition, after its segment file is written",
}


def _from_arrays_sites(path: pathlib.Path) -> list[str]:
    """Dotted name of the function around each RecordBatch.from_arrays."""
    sites = []

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            scope = scope + [node.name]
        if (isinstance(node, ast.Attribute) and node.attr == "from_arrays"
                and ast.unparse(node.value).endswith("RecordBatch")):
            sites.append(".".join(scope) or "<module>")
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(path.read_text()), [])
    return sites


def test_from_arrays_only_at_allowed_sites():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        found += [(rel, site) for site in _from_arrays_sites(path)]
    unexpected = [s for s in found if s not in ALLOWED]
    assert not unexpected, (
        f"hand-built RecordBatch loop(s) at {unexpected}: a row-wise"
        " mapInArrow body belongs in extract_job.doc_batches")
    # Every allowed site is still there, once: the list stays exact.
    assert sorted(found) == sorted(ALLOWED)
