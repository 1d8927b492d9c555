"""Self-test of the fake ffprobe: pins its answers to the prober's two
calls of today, to one fused JSON call, and to a corrupt header.

Run: python3 perfbench/test_fake_ffprobe.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

META = {"video_codec": "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10",
        "width": 1920, "height": 1080, "container": "Matroska / WebM",
        "nb_streams": 3, "duration": "5430.250000", "title": "Night River",
        "audio_codec": "AAC (Advanced Audio Coding)", "channels": 6}
VIDEO_CALL = ["-v", "error", "-select_streams", "v:0", "-show_entries",
              "format_tags=title:format=nb_streams,format_long_name:"
              "stream=codec_long_name,width,height:format=duration",
              "-print_format", "default=noprint_wrappers=1:nokey=1", "-i"]
AUDIO_CALL = ["-v", "error", "-select_streams", "a:0", "-show_entries",
              "stream=channels,codec_long_name",
              "-print_format", "default=noprint_wrappers=1:nokey=1", "-i"]
FUSED_CALL = ["-v", "error", "-show_entries",
              "stream=codec_type,codec_long_name,width,height,channels:"
              "format=nb_streams,format_long_name,duration:format_tags=title",
              "-of", "json", "-i"]


class FakeFfprobeTest(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(HERE, "work", "fake-ffprobe-test")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.log = os.path.join(self.dir, "calls.log")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def video(self, name, **over):
        path = os.path.join(self.dir, name)
        gen.write_video(path, dict(META, **over), 3 << 30)
        return path

    def call(self, args, path):
        env = {"PATH": os.environ.get("PATH", ""),
               "PERFBENCH_FFPROBE_LOG": self.log}
        return subprocess.run(
            [sys.executable, "-SE", os.path.join(HERE, "fake_ffprobe.py")] +
            args + [path], capture_output=True, text=True, env=env)

    def test_video_call(self):
        r = self.call(VIDEO_CALL, self.video("a.mkv"))
        self.assertEqual(r.returncode, 0)
        self.assertEqual(r.stdout, "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10\n"
                         "1920\n1080\n3\nMatroska / WebM\n5430.250000\n"
                         "Night River\n")

    def test_video_call_unknown_width_and_no_title(self):
        r = self.call(VIDEO_CALL, self.video("b.mkv", width=None, height=None,
                                             title=None, duration="N/A"))
        self.assertEqual(r.stdout, "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10\n"
                         "N/A\nN/A\n3\nMatroska / WebM\nN/A\n")

    def test_audio_call(self):
        r = self.call(AUDIO_CALL, self.video("c.mkv"))
        self.assertEqual(r.stdout, "AAC (Advanced Audio Coding)\n6\n")
        r = self.call(AUDIO_CALL, self.video("d.mkv", audio_codec=None,
                                             channels=None))
        self.assertEqual((r.returncode, r.stdout), (0, ""))

    def test_fused_json_call(self):
        r = self.call(FUSED_CALL, self.video("e.mkv"))
        self.assertEqual(json.loads(r.stdout), {
            "streams": [
                {"codec_long_name": "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10",
                 "codec_type": "video", "width": 1920, "height": 1080},
                {"codec_long_name": "AAC (Advanced Audio Coding)",
                 "codec_type": "audio", "channels": 6}],
            "format": {"nb_streams": 3, "format_long_name": "Matroska / WebM",
                       "duration": "5430.250000",
                       "tags": {"title": "Night River"}}})

    def test_corrupt_header_fails_and_is_logged(self):
        path = os.path.join(self.dir, "bad.mkv")
        with open(path, "wb") as f:
            f.write(gen.MAGIC + b"{\"video_codec\": \xff\xfe\n")
        r = self.call(VIDEO_CALL, path)
        self.assertEqual(r.returncode, 1)
        self.assertIn("Invalid data found when processing input", r.stderr)
        self.call(AUDIO_CALL, self.video("f.mkv"))
        with open(self.log) as f:
            calls = [json.loads(x) for x in f]
        self.assertEqual([c["status"] for c in calls], [1, 0])


if __name__ == "__main__":
    unittest.main()
