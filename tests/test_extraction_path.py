"""One served extraction path: no engine module but the pipeline itself
names the all-kernel ``extract_triples``. Every caller runs
``extract_triples_hybrid``; ``extract_triples`` is the oracle that
tests and the benchmark compare it against. No Spark needed."""

import ast
import pathlib

import jsonld_js_spark

PACKAGE = pathlib.Path(jsonld_js_spark.__file__).parent
HOME = PACKAGE / "operators" / "pipeline.py"


def _names(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name
            yield node.asname


def test_only_the_pipeline_names_the_kernel_oracle():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert HOME in modules
    offenders = [str(p.relative_to(PACKAGE)) for p in modules
                 if p != HOME and "extract_triples" in
                 _names(ast.parse(p.read_text(), str(p)))]
    assert offenders == []
