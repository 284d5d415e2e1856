"""Each step of the message layer exists once: the package builds a
boto3 client only in ``sources/kinesis_aws._make_client``, and the
builder API (``api.py``) publishes through the sink's put loop rather
than a ``foreachPartition`` of its own.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "watermill_kinesis_spark"
CLIENT_BUILDER = ("kinesis_aws.py", "_make_client")


def _violations(path: Path) -> list[str]:
    out = []

    def visit(node: ast.AST, func: str | None) -> None:
        where = f"{path.name}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Attribute) and node.attr == "foreachPartition":
            if path.name == "api.py":
                out.append(f"{where} foreachPartition")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "client"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "boto3"
            and (path.name, func) != CLIENT_BUILDER
        ):
            out.append(f"{where} boto3.client(")
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text()), None)
    return out


def test_one_client_builder_and_one_put_loop():
    files = sorted(PACKAGE.rglob("*.py"))
    assert any(p.name == "kinesis_aws.py" for p in files)
    found = [v for p in files for v in _violations(p)]
    assert not found, "\n".join(found)


def test_guard_catches_each_forbidden_form(tmp_path):
    api = tmp_path / "api.py"
    api.write_text(
        "import boto3\n"
        "def publish(wire):\n"
        "    wire.foreachPartition(print)\n"
        "    return boto3.client('kinesis')\n"
    )
    assert len(_violations(api)) == 2
    other = tmp_path / "kinesis_aws.py"
    other.write_text(
        "import boto3\n"
        "def _make_client(options):\n"
        "    return boto3.client('kinesis')\n"
        "def _other_client():\n"
        "    return boto3.client('kinesis')\n"
    )
    assert _violations(other) == ["kinesis_aws.py:5 boto3.client("]
