"""``get_spark`` is the one config surface: two deployment env vars, read
only in ``session.py`` and validated before a session is built; every other
setting is Spark conf passed through ``extra_conf``."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

import volga_spark
from volga_spark import session

PACKAGE = pathlib.Path(volga_spark.__file__).parent
ENV_VARS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"}


def _env_reads(path: pathlib.Path) -> list[str | None]:
    """The variable named by each environment access in ``path`` (None when
    the access is not a read of one literal name)."""
    tree = ast.parse(path.read_text())
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads: list[str | None] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            reads += [None for a in node.names if a.name in ("environ", "getenv")]
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            continue
        up = parents.get(node)
        if node.attr == "environ" and isinstance(up, ast.Attribute) and up.attr == "get":
            up = parents.get(up)
            key = up.args[0] if isinstance(up, ast.Call) and up.args else None
        elif node.attr == "environ" and isinstance(up, ast.Subscript):
            key = up.slice
        elif node.attr == "getenv" and isinstance(up, ast.Call) and up.args:
            key = up.args[0]
        else:
            key = None
        reads.append(key.value if isinstance(key, ast.Constant) else None)
    return reads


def test_env_reads_are_the_two_deployment_settings_in_session():
    found = {
        str(p.relative_to(PACKAGE)): reads
        for p in sorted(PACKAGE.rglob("*.py"))
        if (reads := _env_reads(p))
    }
    assert set(found) == {"session.py"}, found
    assert sorted(found["session.py"]) == sorted(ENV_VARS), found


class _NoBuilder:
    @property
    def builder(self):
        raise AssertionError("the session builder was touched")


@pytest.mark.parametrize("raw", ["abc", "0", "-2", ""])
def test_bad_cpus_env_raises_before_building(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    monkeypatch.setattr(session, "SparkSession", _NoBuilder())
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark()


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}
        self.builder = self

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        class _Ctx:
            def setLogLevel(self, _level):
                pass

        class _Session:
            sparkContext = _Ctx()

        return _Session()


def test_defaults_and_extra_conf_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    rec = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", rec)
    session.get_spark()
    assert rec.conf["master"] == "local[3]"
    assert rec.conf["spark.sql.shuffle.partitions"] == "3"
    assert "spark.sql.streaming.stateStore.providerClass" not in rec.conf
    mem = rec.conf["spark.driver.memory"]
    assert mem.endswith("m") and 0 < int(mem[:-1]) <= 48 * 1024
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert int(mem[:-1]) < ram_mb

    rec.conf.clear()
    session.get_spark(extra_conf={"spark.driver.memory": "2g"})
    assert rec.conf["spark.driver.memory"] == "2g"
