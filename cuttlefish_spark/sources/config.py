"""Runtime config scan (A1): `.cuttlefishrc`-style JSON resolution.

Parity with /root/reference/main.rkt:35-62: the config path is the
first CLI argument if present, else `<cwd>/.cuttlefishrc`; defaults
are {json-out-path, chapter-json-file, logfile-path}; a readable
config file overrides them, a missing file leaves the defaults in
force. One deliberate deviation: the reference REPLACES the whole
default hash when the file exists (main.rkt:56-59); here file keys
MERGE over defaults so a partial rc keeps the other defaults — the
same lenient-access philosophy the reference applies to nested paths
(hash.rkt:30-35).
"""

from __future__ import annotations

import json
import os
from pathlib import Path


def default_config(cwd: str | None = None) -> dict:
    """main.rkt:48-51."""
    base = Path(cwd or os.getcwd())
    return {
        "json-out-path": "/tmp",
        "chapter-json-file": str(base / "chapters.json"),
        "logfile-path": str(base / "logs"),
    }


def resolve_config_path(arg: str | None = None, cwd: str | None = None) -> Path:
    """First CLI arg wins, else `<cwd>/.cuttlefishrc` (main.rkt:35-46)."""
    if arg:
        return Path(arg).resolve()
    return Path(cwd or os.getcwd()) / ".cuttlefishrc"


def load_config(
    arg: str | None = None, cwd: str | None = None
) -> dict:
    """Resolved runtime config: defaults, overridden by the rc file's
    keys when it exists (main.rkt:56-62 + the merge deviation noted in
    the module docstring)."""
    defaults = default_config(cwd)
    path = resolve_config_path(arg, cwd)
    if not path.is_file():
        return defaults
    with open(path, encoding="utf-8") as fh:
        try:
            overrides = json.load(fh)
        except ValueError as e:  # not JSON, or not UTF-8
            raise ValueError(f"config file {path} is not JSON: {e}") from e
    if not isinstance(overrides, dict):
        raise ValueError(f"config file {path} must hold a JSON object")
    return {**defaults, **overrides}
