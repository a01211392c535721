// Writes an OOXML (.docx) container whose word/media/ parts are JPEGs and
// PNGs encoded by the JDK's own javax.imageio writers (the JPEG writer is
// derived from libjpeg), so the engine's decoders can be checked on images
// that the repository's encoders did not produce.
//
// Run with a JDK 11+ (single-file source launch, no build step):
//
//     java scripts/GenImageioMedia.java tests/data/jdk_imageio_media.docx
//
// Images are drawn from gradients and filled shapes only (no font text, so
// the output does not depend on installed fonts). Zip entries carry a fixed
// timestamp, so one JDK writes the same bytes on every run.

import java.awt.BasicStroke;
import java.awt.Color;
import java.awt.GradientPaint;
import java.awt.Graphics2D;
import java.awt.Polygon;
import java.awt.RenderingHints;
import java.awt.image.BufferedImage;
import java.awt.image.IndexColorModel;
import java.io.ByteArrayOutputStream;
import java.io.FileOutputStream;
import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.time.LocalDateTime;
import java.util.LinkedHashMap;
import java.util.Map;
import java.util.function.Consumer;
import java.util.zip.ZipEntry;
import java.util.zip.ZipOutputStream;
import javax.imageio.IIOImage;
import javax.imageio.ImageIO;
import javax.imageio.ImageTypeSpecifier;
import javax.imageio.ImageWriteParam;
import javax.imageio.ImageWriter;
import javax.imageio.metadata.IIOMetadata;
import javax.imageio.metadata.IIOMetadataNode;
import javax.imageio.stream.ImageOutputStream;
import javax.imageio.stream.MemoryCacheImageOutputStream;

public class GenImageioMedia {
    private static final String JPEG_TREE = "javax_imageio_jpeg_image_1.0";
    private static final LocalDateTime STAMP = LocalDateTime.of(2020, 1, 1, 0, 0);

    /** Gradient background plus a few filled shapes; colour or gray by image type. */
    static BufferedImage draw(BufferedImage img, int seed) {
        int w = img.getWidth(), h = img.getHeight();
        Graphics2D g = img.createGraphics();
        g.setRenderingHint(RenderingHints.KEY_ANTIALIASING, RenderingHints.VALUE_ANTIALIAS_ON);
        g.setPaint(new GradientPaint(0, 0, new Color(30 + seed * 7, 60, 200 - seed * 5),
                                     w, h, new Color(240, 220 - seed * 9, 40 + seed * 3)));
        g.fillRect(0, 0, w, h);
        g.setColor(new Color(250, 250, 245));
        g.fillOval(w / 8, h / 6, w / 2, h / 2);
        g.setColor(new Color(20, 90 + seed * 4, 60));
        g.fillRect(w / 2, h / 2, w / 3, h / 3);
        g.setColor(new Color(10, 10, 10));
        g.setStroke(new BasicStroke(2f));
        g.drawLine(0, h - 1 - seed, w - 1, seed);
        g.fill(new Polygon(new int[] {w - 4, w - w / 4, w - 4}, new int[] {2, h / 4, h / 3}, 3));
        g.dispose();
        return img;
    }

    static BufferedImage image(int w, int h, int type, int seed) {
        return draw(new BufferedImage(w, h, type), seed);
    }

    /** Sets the luma sampling factors; chroma stays 1x1 (2x2 = 4:2:0, 2x1 = 4:2:2, 1x1 = 4:4:4). */
    static void lumaSampling(IIOMetadataNode tree, int hs, int vs) {
        IIOMetadataNode y = (IIOMetadataNode) tree.getElementsByTagName("componentSpec").item(0);
        y.setAttribute("HsamplingFactor", Integer.toString(hs));
        y.setAttribute("VsamplingFactor", Integer.toString(vs));
    }

    /** Adds a DRI marker (restart interval in MCUs) ahead of the SOF. */
    static void restartInterval(IIOMetadataNode tree, int mcus) {
        IIOMetadataNode seq = (IIOMetadataNode) tree.getElementsByTagName("markerSequence").item(0);
        IIOMetadataNode dri = new IIOMetadataNode("dri");
        dri.setAttribute("interval", Integer.toString(mcus));
        seq.insertBefore(dri, tree.getElementsByTagName("sof").item(0));
    }

    static byte[] jpeg(BufferedImage img, boolean progressive, Consumer<IIOMetadataNode> tweak) throws IOException {
        ImageWriter writer = ImageIO.getImageWritersByFormatName("jpeg").next();
        ImageWriteParam param = writer.getDefaultWriteParam();
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);
        param.setCompressionQuality(0.85f);
        if (progressive) {
            param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);
        }
        IIOMetadata md = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param);
        if (tweak != null) {
            IIOMetadataNode tree = (IIOMetadataNode) md.getAsTree(JPEG_TREE);
            tweak.accept(tree);
            md.setFromTree(JPEG_TREE, tree);
        }
        return write(writer, param, new IIOImage(img, null, md));
    }

    static byte[] png(BufferedImage img, boolean interlaced) throws IOException {
        ImageWriter writer = ImageIO.getImageWritersByFormatName("png").next();
        ImageWriteParam param = writer.getDefaultWriteParam();
        if (interlaced) {
            param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);  // Adam7
        }
        return write(writer, param, new IIOImage(img, null, null));
    }

    static byte[] write(ImageWriter writer, ImageWriteParam param, IIOImage img) throws IOException {
        ByteArrayOutputStream buf = new ByteArrayOutputStream();
        try (ImageOutputStream out = new MemoryCacheImageOutputStream(buf)) {
            writer.setOutput(out);
            writer.write(null, img, param);
        } finally {
            writer.dispose();
        }
        return buf.toByteArray();
    }

    /** 16-colour palette drawn into a 4-bit indexed raster (PNG colour type 3). */
    static BufferedImage indexed(int w, int h) {
        byte[] r = new byte[16], g = new byte[16], b = new byte[16];
        for (int i = 0; i < 16; i++) {
            r[i] = (byte) (i * 17);
            g[i] = (byte) ((i * 53) & 0xFF);
            b[i] = (byte) (255 - i * 15);
        }
        IndexColorModel icm = new IndexColorModel(4, 16, r, g, b);
        return draw(new BufferedImage(w, h, BufferedImage.TYPE_BYTE_BINARY, icm), 4);
    }

    public static void main(String[] args) throws IOException {
        if (args.length != 1) {
            System.err.println("usage: java scripts/GenImageioMedia.java OUT.docx");
            System.exit(2);
        }
        int rgb = BufferedImage.TYPE_3BYTE_BGR;
        int gray = BufferedImage.TYPE_BYTE_GRAY;
        Map<String, byte[]> media = new LinkedHashMap<>();
        // PNG first: the interlaced and low/high bit-depth layouts lead
        media.put("png_adam7_rgb.png", png(image(45, 37, rgb, 1), true));
        media.put("png_adam7_gray.png", png(image(38, 29, gray, 2), true));
        media.put("png_gray16.png", png(image(40, 30, BufferedImage.TYPE_USHORT_GRAY, 3), false));
        media.put("png_bilevel.png", png(image(53, 27, BufferedImage.TYPE_BYTE_BINARY, 4), false));
        media.put("png_palette4.png", png(indexed(41, 33), false));
        media.put("png_gray8.png", png(image(36, 28, gray, 5), false));
        media.put("png_rgb.png", png(image(48, 32, rgb, 6), false));
        media.put("png_rgba.png", png(image(44, 34, BufferedImage.TYPE_INT_ARGB, 7), false));
        media.put("png_gray8_wide.png", png(image(96, 20, gray, 8), false));
        media.put("png_rgb_odd.png", png(image(33, 47, rgb, 9), false));
        media.put("jpeg_420.jpg", jpeg(image(64, 48, rgb, 1), false, null));
        media.put("jpeg_420_odd.jpg", jpeg(image(61, 45, rgb, 2), false, null));
        media.put("jpeg_422.jpg", jpeg(image(56, 40, rgb, 3), false, t -> lumaSampling(t, 2, 1)));
        media.put("jpeg_444.jpg", jpeg(image(50, 38, rgb, 4), false, t -> lumaSampling(t, 1, 1)));
        media.put("jpeg_gray.jpg", jpeg(image(47, 35, gray, 5), false, null));
        media.put("jpeg_420_dri.jpg", jpeg(image(80, 64, rgb, 6), false, t -> restartInterval(t, 3)));
        media.put("jpeg_progressive.jpg", jpeg(image(72, 52, rgb, 7), true, null));

        String types = "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n"
            + "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">"
            + "<Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>"
            + "<Default Extension=\"xml\" ContentType=\"application/xml\"/>"
            + "<Default Extension=\"png\" ContentType=\"image/png\"/>"
            + "<Default Extension=\"jpg\" ContentType=\"image/jpeg\"/>"
            + "<Override PartName=\"/word/document.xml\" ContentType=\""
            + "application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml\"/>"
            + "</Types>";
        String rels = "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n"
            + "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">"
            + "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/"
            + "relationships/officeDocument\" Target=\"word/document.xml\"/></Relationships>";
        StringBuilder docRels = new StringBuilder(
            "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n"
            + "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">");
        int id = 1;
        for (String name : media.keySet()) {
            docRels.append("<Relationship Id=\"rId").append(id++)
                .append("\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/image\"")
                .append(" Target=\"media/").append(name).append("\"/>");
        }
        docRels.append("</Relationships>");
        String document = "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n"
            + "<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">"
            + "<w:body><w:p><w:r><w:t>Images written by javax.imageio</w:t></w:r></w:p></w:body>"
            + "</w:document>";

        try (ZipOutputStream zip = new ZipOutputStream(new FileOutputStream(args[0]))) {
            put(zip, "[Content_Types].xml", types.getBytes(StandardCharsets.UTF_8));
            put(zip, "_rels/.rels", rels.getBytes(StandardCharsets.UTF_8));
            put(zip, "word/document.xml", document.getBytes(StandardCharsets.UTF_8));
            put(zip, "word/_rels/document.xml.rels", docRels.toString().getBytes(StandardCharsets.UTF_8));
            for (Map.Entry<String, byte[]> e : media.entrySet()) {
                put(zip, "word/media/" + e.getKey(), e.getValue());
            }
        }
    }

    static void put(ZipOutputStream zip, String name, byte[] data) throws IOException {
        ZipEntry entry = new ZipEntry(name);
        entry.setTimeLocal(STAMP);
        zip.putNextEntry(entry);
        zip.write(data);
        zip.closeEntry();
    }
}
