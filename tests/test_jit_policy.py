"""The JIT policy of the JVM that `get_spark` starts, read back from the
live JVM: C1 only, with the full-size code cache."""

_MIB = 1024 * 1024


def _vm_option(spark, name: str) -> str:
    jvm = spark._jvm
    bean_cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_cls)
    return bean.getVMOption(name).getValue()


def test_live_jvm_runs_c1_only(spark):
    assert _vm_option(spark, "TieredStopAtLevel") == "1"


def test_live_jvm_keeps_full_code_cache(spark):
    # C1 only otherwise falls back to the non-tiered 48 MB cache, which a
    # long session fills, flushes and recompiles
    assert int(_vm_option(spark, "ReservedCodeCacheSize")) >= 240 * _MIB

