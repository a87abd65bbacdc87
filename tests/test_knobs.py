"""Every runtime knob the package reads — Spark-conf key or environment
variable — is listed in config.py's docstring, and no debug switch is
read at all."""

import pathlib
import re

import kbase_cdm_ontologies_spark
from kbase_cdm_ontologies_spark import config

_PKG = pathlib.Path(kbase_cdm_ontologies_spark.__file__).parent
_CONF_LITERAL = re.compile(r"""["'](spark\.graft\.[A-Za-z.]+)["']""")
_ENV_READ = re.compile(
    r"""os\.(?:environ\.get\(|environ\[|getenv\()\s*["']([A-Za-z0-9_]+)["']"""
)
_DOC_ENTRY = re.compile(r"^\s+(spark\.graft\.[A-Za-z.]+|SPARK_GRAFT_[A-Z_]+)\s", re.M)


def test_knobs_read_equal_knobs_documented():
    src = "\n".join(p.read_text() for p in sorted(_PKG.rglob("*.py")))
    read = set(_CONF_LITERAL.findall(src)) | set(_ENV_READ.findall(src))
    assert read == set(_DOC_ENTRY.findall(config.__doc__))
    assert not [k for k in read if k.startswith("SPARK_GRAFT_DEBUG")]
