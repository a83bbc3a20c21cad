"""The session's driver JVM policy."""


def test_driver_jvm_runs_c1_only(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args
    # C1 only would otherwise shrink the code cache to 48 MB, which a
    # long session fills
    assert "-XX:ReservedCodeCacheSize=240m" in args
    # set as the default options, so a caller's extraJavaOptions (perfbench
    # passes its own) add to the policy instead of replacing it
    default_opts = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions", "")
    assert "-XX:TieredStopAtLevel=1" in default_opts.split()
