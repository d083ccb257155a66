"""Python-worker helper: dropping the import finders of zip archives,
roots and package paths inside them, leaves imports from the archive
working."""

import importlib
import sys
import zipfile

from kmcp_spark.runtime import drop_zip_finders


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

        drop_zip_finders()
        assert not [p for p in sys.path_importer_cache if p.startswith(inside)]
        assert root not in sys.path_importer_cache  # the archive's own finder goes too

        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.two.mod").VALUE == 2
    finally:
        sys.path.remove(root)
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(root)]:
            del sys.path_importer_cache[p]
