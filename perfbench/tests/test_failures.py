"""Failure accounting against a scripted server: a connection dropped
mid-statement is a failed operation, never a missing sample."""
import os
import socket
import struct
import sys
import threading
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pgclient  # noqa: E402
import wire  # noqa: E402
from stats import OpLog  # noqa: E402


def msg(t, payload=b""):
    return t + struct.pack("!I", len(payload) + 4) + payload


READY = msg(b"Z", b"I")
STARTUP_OK = msg(b"R", struct.pack("!I", 0)) + msg(b"K", struct.pack("!ii", 7, 1)) + READY
ROW_DESC = msg(b"T", struct.pack("!H", 1) + b"?column?\0" + struct.pack("!IHIhih", 0, 0, 23, 4, -1, 0))
ROW_ONE = msg(b"D", struct.pack("!H", 1) + struct.pack("!i", 1) + b"1")
SELECT_DONE = ROW_DESC + ROW_ONE + msg(b"C", b"SELECT 1\0") + READY


class ScriptedServer:
    """Answers the startup, then replays `replies` (bytes, or None to
    close the socket) to successive frontend messages."""

    def __init__(self, replies):
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.replies = list(replies)
        threading.Thread(target=self.serve, daemon=True).start()

    def serve(self):
        c, _ = self.sock.accept()
        n = struct.unpack("!I", c.recv(4))[0]
        c.recv(n - 4)
        c.sendall(STARTUP_OK)
        for reply in self.replies:
            head = c.recv(5)
            n = struct.unpack("!I", head[1:5])[0]
            c.recv(n - 4)
            if reply is None:
                c.close()
                return
            c.sendall(reply)
        c.close()


class FailureAccountingTest(unittest.TestCase):
    def test_dropped_mid_statement_is_a_failed_op(self):
        # select 1 completes; the next statement gets a row, then the socket closes
        srv = ScriptedServer([SELECT_DONE, ROW_DESC + ROW_ONE + b"D\0\0"])
        log = OpLog()
        conn = wire.connect(log, srv.port, "measure")
        self.assertIsNotNone(conn)
        with self.assertRaises(pgclient.ConnectionLost):
            wire.run_op(log, "read", conn, "measure", lambda: conn.query("select x"))
        self.assertEqual(log.attempted, 2)
        self.assertEqual(log.failed, 1)
        self.assertEqual([o.kind for o in log.select("measure")], ["connect"])
        self.assertIn("connection lost", log.failures[0])

    def test_connection_closed_before_first_statement_answers(self):
        srv = ScriptedServer([None])
        log = OpLog()
        self.assertIsNone(wire.connect(log, srv.port, "measure"))
        self.assertEqual((log.attempted, log.failed), (1, 1))

    def test_error_response_and_wrong_answer_are_failed_ops(self):
        err = msg(b"E", b"SERROR\0C42P01\0Mno such table\0\0") + READY
        srv = ScriptedServer([SELECT_DONE, err, SELECT_DONE])
        log = OpLog()
        conn = wire.connect(log, srv.port, "measure")
        wire.run_op(log, "read", conn, "measure", lambda: conn.query("select * from nope"))
        wire.run_op(log, "read", conn, "measure", lambda: conn.query("select 1", decode=True),
                    lambda res: None if res.rows == [["2"]] else "wrong answer")
        self.assertEqual((log.attempted, log.failed), (3, 2))
        self.assertIn("42P01", log.failures[0])
        self.assertIn("wrong answer", log.failures[1])


if __name__ == "__main__":
    unittest.main()
