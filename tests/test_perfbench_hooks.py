"""The benchmark's ``--trace 1`` mode wraps named attributes of the
program in place (``perfbench.trace.install``). A rename of any of them
would break that mode only when the benchmark runs; this test breaks
first. It reads ``perfbench/`` and leaves it as it is."""

from perfbench.trace import Tracer, install


def test_every_traced_attribute_exists(spark):
    tracer = Tracer()
    install(tracer, spark)  # getattr of a missing attribute raises here
    patched = list(tracer._patched)
    try:
        assert patched
        for owner, attr, orig in patched:
            assert callable(orig), (owner, attr)
            assert getattr(owner, attr) is not orig, (owner, attr)
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig, (owner, attr)
