import os
import sys

SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src")
if SRC not in sys.path:
    sys.path.insert(0, SRC)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: starts a fresh JVM (deselect with -m 'not slow')"
    )
