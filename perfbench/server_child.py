"""Hosts one `SearchServer` in its own process.

    python perfbench/server_child.py <checkout root> <index dir> <cpu,cpu,...>

Prints one JSON line `{"port": ...}` once the server is
listening, then serves until its standard input closes.  Each line
`cpu` on standard input is answered with `{"cpu_s": ...}`: the CPU
seconds of the whole process so far, threads that have ended included.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    root, index_dir = sys.argv[1], sys.argv[2]
    cpus = [int(c) for c in sys.argv[3].split(",")]
    os.sched_setaffinity(0, cpus)
    # Arrow sizes its CPU pool from the machine's core count, not from the
    # CPUs this process may use
    import pyarrow

    pyarrow.set_cpu_count(len(cpus))
    sys.path.insert(0, root)
    from meme_search_engine_spark.query.http_server import SearchServer

    server = SearchServer(index_dir).start()
    print(json.dumps({"port": server.port}), flush=True)
    try:
        for line in sys.stdin:
            if line.strip() == "cpu":
                print(json.dumps({"cpu_s": time.process_time()}), flush=True)
    finally:
        server.stop()


if __name__ == "__main__":
    main()
