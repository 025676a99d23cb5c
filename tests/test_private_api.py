"""Product code reaches Spark through its public PySpark API only.

The py4j handles behind a session or a frame (``DataFrame._jdf``,
``SparkSession._jsparkSession``, ``._jvm``, ``._jsc``) are private: they
change between Spark releases and do not exist on Spark Connect.
"""

import os
import re

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jena_spark")

PRIVATE = re.compile(r"\._(jdf|jsparkSession|jvm|jsc)\b")

# checkpoint.py lists and creates its commit markers through the Hadoop
# FileSystem (``_jvm`` for ``fs.Path``, ``_jsc`` for the Hadoop
# configuration), so they work on hdfs:// and s3a:// as well as local
# paths; PySpark has no public Hadoop FileSystem API.
ALLOWED = {("checkpoint.py", "jvm"), ("checkpoint.py", "jsc")}


def test_no_private_spark_api_in_product_code():
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PACKAGE)
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    for m in PRIVATE.finditer(line):
                        if (rel, m.group(1)) not in ALLOWED:
                            found.append(f"{rel}:{lineno}: {line.strip()}")
    assert not found, "\n".join(found)
