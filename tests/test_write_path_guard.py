"""Arrow-only guard for the write path: the chunk, extract,
canonicalize, triples and materialize operators, the pipeline plan and
the session factory import no pandas and call no pandas UDF API
(``mapInPandas``, ``applyInPandas``, ``pandas_udf``). Their UDFs take
and return Arrow batches. Checked on the AST (function-local imports
included); no Spark is started."""

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "metal_history_knowledge_graph_spark"
WRITE_PATH = [
    "operators/chunk.py",
    "operators/extract.py",
    "operators/canonicalize.py",
    "operators/triples.py",
    "operators/materialize.py",
    "plans/pipeline.py",
    "session.py",
]
PANDAS_APIS = {"mapInPandas", "applyInPandas", "pandas_udf"}


def _pandas_uses(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                found.append(node.module)
            found += [a.name for a in node.names if a.name in PANDAS_APIS]
        elif isinstance(node, ast.Attribute) and node.attr in PANDAS_APIS:
            found.append(node.attr)
        elif isinstance(node, ast.Name) and node.id in PANDAS_APIS:
            found.append(node.id)
    return found


@pytest.mark.parametrize("module", WRITE_PATH)
def test_write_path_module_is_arrow_only(module):
    tree = ast.parse((PKG / module).read_text(), filename=module)
    assert _pandas_uses(tree) == []


def test_guard_sees_pandas_uses():
    src = ("import pandas as pd\n"
           "from pyspark.sql.functions import pandas_udf\n"
           "def f(df):\n"
           "    import pandas\n"
           "    return df.mapInPandas(g, 's string').groupBy('s').applyInPandas(g, 's string')\n")
    assert sorted(_pandas_uses(ast.parse(src))) == [
        "applyInPandas", "mapInPandas", "pandas", "pandas", "pandas_udf"]
