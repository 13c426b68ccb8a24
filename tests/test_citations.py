"""Provenance guard: every /root/reference/... path cited in a docstring
must exist (the r4 verdict found five stale citations; this keeps them
from regressing)."""
import re
from pathlib import Path

import pytest

from tests.conftest import requires_reference

pytestmark = requires_reference

REPO = Path(__file__).resolve().parent.parent
PAT = re.compile(r"/root/reference/[A-Za-z0-9_./-]+")


def _cited_paths():
    out = set()
    for pkg in ("gminer_spark", "jobs", "tools"):
        for f in (REPO / pkg).rglob("*.py"):
            for m in PAT.findall(f.read_text()):
                # strip sentence punctuation (trailing . not part of an ext)
                p = m.rstrip(".,;:)")
                if "." in Path(p).name:
                    # re-attach a real extension the rstrip may have eaten
                    p = m if Path(m).exists() else p
                out.add((p, str(f.relative_to(REPO))))
    return sorted(out)


@pytest.mark.parametrize("path,src", _cited_paths())
def test_cited_reference_path_exists(path, src):
    assert Path(path).exists(), f"stale citation {path} in {src}"
