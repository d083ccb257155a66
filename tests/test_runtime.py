"""Python-worker helper: dropping the import finders of package paths
inside zip archives leaves imports from the archive working."""

import importlib
import sys
import zipfile

from kmcp_spark.runtime import drop_zip_subpath_finders


def test_drop_zip_subpath_finders(tmp_path):
    archive = tmp_path / "bundle.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/one/__init__.py", "")
        z.writestr("zpkg/one/mod.py", "VALUE = 1\n")
        z.writestr("zpkg/two/__init__.py", "")
        z.writestr("zpkg/two/mod.py", "VALUE = 2\n")
    root = str(archive)
    inside = root + "/"
    sys.path.insert(0, root)
    try:
        assert importlib.import_module("zpkg.one.mod").VALUE == 1
        assert any(p.startswith(inside) for p in sys.path_importer_cache)

        drop_zip_subpath_finders()
        assert not [p for p in sys.path_importer_cache if p.startswith(inside)]
        assert root in sys.path_importer_cache  # the archive's own finder stays

        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.two.mod").VALUE == 2
    finally:
        sys.path.remove(root)
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(root)]:
            del sys.path_importer_cache[p]
