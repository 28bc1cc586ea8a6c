"""tools/code_lines.py must fail loudly on a path it cannot count, not
print a total of 0 and exit 0."""

import subprocess
import sys
from pathlib import Path

import pytest

TOOL = Path(__file__).resolve().parents[1] / "tools" / "code_lines.py"


def _run(path):
    return subprocess.run([sys.executable, str(TOOL), str(path)],
                          capture_output=True, text=True)


def test_counts_a_package_directory(tmp_path):
    (tmp_path / "m.py").write_text('"""doc"""\n\nx = 1  # c\ny = (1,\n     2)\n')
    out = _run(tmp_path)
    assert out.returncode == 0
    assert out.stdout.splitlines()[-1].split() == ["3", "total", "(1", "files)"]


@pytest.mark.parametrize("make, message", [
    (lambda d: d / "nope", "not a directory"),
    (lambda d: d / "m.py", "not a directory"),
    (lambda d: d / "txt", "no .py file"),
])
def test_uncountable_path_exits_nonzero(tmp_path, make, message):
    (tmp_path / "m.py").write_text("x = 1\n")
    (tmp_path / "txt").mkdir()
    (tmp_path / "txt" / "notes.txt").write_text("x = 1\n")
    out = _run(make(tmp_path))
    assert out.returncode != 0 and message in out.stderr
