"""The session pin registry is the package's one cache owner: no other
module persists a frame, so every cached frame follows one release
contract (``session.session_pins_scope`` / ``release_session_pins``)."""

import pathlib
import re

import off_topic_memento_toolkit_spark as package


def test_only_the_session_module_persists():
    root = pathlib.Path(package.__file__).parent
    sites = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py")) if path != root / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.persist\(", line)
    ]
    assert not sites, sites
