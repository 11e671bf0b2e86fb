"""``_daemon``'s lazy zip-import directories, without Spark: an invalidation
reads no archive, and a zip rewritten or gone afterwards is still seen."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in a fresh interpreter: the patch changes zipimport for the whole
# process
SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport
    sys.path.insert(0, {repo!r})
    from full_text_index_spark import _daemon

    lazy = _daemon.make_zipimport_lazy()
    assert lazy or sys.version_info >= (3, 13)
    reads = []
    read_directory = zipimport._read_directory
    def counted(archive):
        reads.append(archive)
        return read_directory(archive)
    zipimport._read_directory = counted

    def write(path, modules):
        with zipfile.ZipFile(path + ".tmp", "w") as zf:
            for name in modules:
                zf.writestr(name + ".py", f"NAME = {{name!r}}\\n")
        os.replace(path + ".tmp", path)

    archive = os.path.join({tmp!r}, "mods.zip")
    write(archive, ["lazy_a"])
    sys.path.insert(0, archive)
    import lazy_a
    assert lazy_a.__file__.startswith(archive), lazy_a.__file__
    assert reads == [archive], reads

    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [archive], reads

    write(archive, ["lazy_a", "lazy_b"])
    importlib.invalidate_caches()
    import lazy_b
    assert lazy_b.NAME == "lazy_b"
    assert reads == [archive, archive], reads

    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importer.invalidate_caches()
    assert importer.find_spec("lazy_c") is None
    print("DAEMON_OK")
    """
)


def test_invalidation_is_lazy_and_still_sees_new_zips(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, tmp=str(tmp_path))],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "DAEMON_OK" in proc.stdout
