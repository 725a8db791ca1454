"""Held handles to JVM classes, one per class name and py4j gateway.

Reaching a class through the gateway's package view
(``spark._jvm.org.apache.hadoop.fs.Path``) costs one py4j round trip per
dotted segment, and for every segment that names a package the JVM first
tries ``Class.forName`` against the whole classpath: building one Hadoop
``Path`` that way took 2-3 ms on a 4 vCPU VM with Spark's 288-jar
classpath, against 0.15-0.25 ms through a held handle. :func:`jvm_class`
resolves a class by its fully qualified name once per gateway and keeps
the handle; the handle also keeps each static method it has looked up,
so a constructor or a static call is one round trip. Every JVM class the package uses is
reached through it (``tests/test_source_lint.py`` enforces that).
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass, JavaMember, JVMView


class _ClassHandle(JavaClass):
    def __getattr__(self, name):
        member = JavaClass.__getattr__(self, name)
        if isinstance(member, JavaMember):  # a static method, never a field
            self.__dict__[name] = member
        return member


_HANDLES: dict = {}


def jvm_class(owner, fqn: str) -> JavaClass:
    """Handle to the JVM class ``fqn`` (``"org.apache.hadoop.fs.Path"``;
    a nested class as ``"Outer$Inner"``). ``owner`` is a SparkSession, a
    SparkContext or their ``_jvm`` view: it names the gateway. The first
    call per gateway checks that the class exists (py4j raises
    ``Py4JError`` otherwise); later calls make no round trip."""
    client = (owner if isinstance(owner, JVMView) else owner._jvm)._gateway_client
    handle = _HANDLES.get((client, fqn))
    if handle is None:
        handle = _ClassHandle(fqn, client)
        handle._java_lang_class  # resolve now, so a wrong name fails here
        _HANDLES[(client, fqn)] = handle
    return handle
